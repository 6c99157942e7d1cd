package graft

import org.apache.spark.sql.functions._
import graft.functions.{Scored, TopK}
import graft.ops.{Dedup, Joins}
import graft.functions.Geo

/** Seeded randomized equivalence properties for the invariants that carry
  * the engine's correctness arguments — the places where fixed-example
  * tests missed real bugs in review (TopK NaN ordering, radius banding
  * seams). Seeds are FIXED so failures reproduce.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(xs: Seq[Scored], k: Int): Seq[Scored] = {
    // the row_number() reference order: sim desc (NaN above all, ±0.0
    // equal), id asc
    def key(s: Scored) = (if (s.sim == 0.0) 0.0 else s.sim, s.id)
    xs.sortWith { (a, b) =>
      val c = java.lang.Double.compare(key(b)._1, key(a)._1)
      c < 0 || (c == 0 && a.id < b.id)
    }.take(k)
  }

  test("TopK aggregator == sorted-take under random inputs, splits, and merge orders") {
    val rnd = new scala.util.Random(42)
    val special = Seq(Double.NaN, 0.0, -0.0, 1.0, -1.0)
    for (trial <- 1 to 60) {
      val n = 1 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(8)
      val xs = (0 until n).map { i =>
        val sim = if (rnd.nextInt(4) == 0) special(rnd.nextInt(special.length))
          else math.rint(rnd.nextDouble() * 10) / 10.0 // coarse grid forces ties
        Scored(sim, rnd.nextInt(12).toLong)
      }
      val agg = new TopK(k)
      // random partitioning + random merge nesting
      val parts = xs.grouped(1 + rnd.nextInt(n)).toSeq
      val buffers = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(buffers).foldLeft(agg.zero)(agg.merge)
      val got = agg.finish(merged)
      val want = windowTopK(xs, k)
      // compare on the (normalized sim, id) keys: NaN != NaN under ==
      def keys(s: Seq[Scored]) = s.map(x => (java.lang.Double.doubleToLongBits(
        if (x.sim == 0.0) 0.0 else x.sim), x.id))
      assert(keys(got) == keys(want), s"trial $trial: $xs k=$k\n got=$got\nwant=$want")
    }
  }

  test("C4 stats kernel == expression spec under adversarial random strings") {
    // the fused character-scan kernel must replicate java.util.regex over
    // ANY input — drive it with seeded random strings over an alphabet
    // chosen to hit every corner at once: ASCII whitespace class members,
    // the four $-matching final line terminators, ellipsis forms, bullet
    // markers, punctuation, and a surrogate pair
    val rnd = new scala.util.Random(1234)
    val alphabet: IndexedSeq[String] = IndexedSeq(
      "a", "Z", "9", ".", "!", "?", "\"", "-", "*", "\u2022", "\u2026", " ",
      "\t", "\n", "\u000B", "\f", "\r", "\u0085", "\u2028", "\u2029",
      "\uD83D\uDE00", "\u00E9")
    val docs = (0 until 300).map { i =>
      val len = rnd.nextInt(40)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    val spec = graft.ops.TextAnalysis.c4Filters(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val fast = graft.ops.TextAnalysis.c4FiltersFast(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    fast.zip(spec).foreach { case (f, s) =>
      assert(f == s, s"kernel/spec divergence:\nfast=$f\nspec=$s")
    }
  }

  test("grid radius join == brute force on random point clouds incl. high latitude and the seam") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val maxLat = 88.0
      def pts(n: Int, tag: String) = (0 until n).map { i =>
        // cluster some points near the antimeridian and poles deliberately
        val lon = rnd.nextInt(3) match {
          case 0 => 179.0 + rnd.nextDouble() * 2.0 - 1.0
          case 1 => rnd.nextDouble() * 0.2 - 0.1
          case _ => rnd.nextDouble() * 360.0 - 180.0
        }
        val lat = rnd.nextInt(3) match {
          case 0 => maxLat - rnd.nextDouble() * 2.0
          case 1 => -maxLat + rnd.nextDouble() * 2.0
          case _ => rnd.nextDouble() * 2 * maxLat - maxLat
        }
        (i.toLong, lat, (lon + 180.0) % 360.0 - 180.0)
      }.toDF(s"${tag}_id", s"${tag}_lat", s"${tag}_lon")
      val l = pts(120, "l")
      val r = pts(25, "r")
      val radius = 60.0
      // MULTISET equality (sorted Seq, not toSet): a replication bug that
      // emits a qualifying pair twice would be invisible to a set compare
      val banded = Joins.radiusJoin(l, r, $"l_lat", $"l_lon", $"r_lat", $"r_lon",
          radiusKm = radius, latCellDeg = 1.0, lonCellDeg = 20.0, maxAbsLatDeg = maxLat)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSeq.sorted
      val brute = l.crossJoin(r)
        .where(Geo.haversineKm($"l_lat", $"l_lon", $"r_lat", $"r_lon") <= radius)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSeq.sorted
      assert(banded == brute, s"trial $trial: banded ${banded.size} vs brute ${brute.size}")
    }
  }

  test("RadiusJoinRule rewrite == brute force MULTISET on random clouds over the FULL ±89.9° range") {
    // the Catalyst rule (unlike Joins.radiusJoin) carries no latitude
    // contract — its per-band dynamic rings must stay EXACT everywhere,
    // including the collapsed 1-2-cell polar rings whose ±1 replicas used
    // to duplicate pairs (invisible to a set compare, hence multiset)
    graft.plans.Graft.install(spark)
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      def pts(n: Int, tag: String) = (0 until n).map { i =>
        val lon = rnd.nextInt(3) match {
          case 0 => 179.0 + rnd.nextDouble() * 2.0 - 1.0
          case 1 => rnd.nextDouble() * 0.2 - 0.1
          case _ => rnd.nextDouble() * 360.0 - 180.0
        }
        // full range INCLUDING the polar caps the grid join excludes
        val lat = rnd.nextInt(3) match {
          case 0 => 89.9 - rnd.nextDouble() * 3.0
          case 1 => -89.9 + rnd.nextDouble() * 3.0
          case _ => rnd.nextDouble() * 179.8 - 89.9
        }
        (i.toLong, lat, (lon + 180.0) % 360.0 - 180.0)
      }.toDF(s"${tag}_id", s"${tag}_lat", s"${tag}_lon")
      val l = pts(120, "l")
      val r = pts(25, "r")
      val radius = 100.0 + rnd.nextInt(6) * 100.0
      def q = l.crossJoin(r)
        .where(Geo.haversineKm($"l_lat", $"l_lon", $"r_lat", $"r_lon") <= lit(radius))
        .select("l_id", "r_id")
      assert(!q.queryExecution.executedPlan.toString.contains("NestedLoopJoin"),
        s"trial $trial: the rule must fire")
      val got = q.as[(Long, Long)].collect().toSeq.sorted
      val prev = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = Nil
      val brute = l.crossJoin(r)
        .where(Geo.haversineKm($"l_lat", $"l_lon", $"r_lat", $"r_lon") <= lit(radius))
        .select("l_id", "r_id").as[(Long, Long)].collect().toSeq.sorted
      spark.experimental.extraOptimizations = prev
      assert(got == brute,
        s"trial $trial (r=$radius km): rewrite ${got.size} rows " +
          s"(${got.distinct.size} distinct) vs brute ${brute.size}")
    }
  }

  test("simhash banded candidates == brute hamming scan on random word-soup docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("spark", "scan", "row", "key", "agg", "hash", "sort", "join", "page", "cell")
    val docs = (0L until 60L).map { i =>
      val base = (0 until 8 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
      (i, base.mkString(" "))
    }.toDF("doc_id", "text")
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val h = Dedup.simhash60(docs, "doc_id", "text")
    val a = h.select($"doc_id".as("doc_a"), $"simhash".as("ha"))
    val b = h.select($"doc_id".as("doc_b"), $"simhash".as("hb"))
    val brute = a.crossJoin(b).where($"doc_a" < $"doc_b")
      .where(call_function("bit_count", $"ha".bitwiseXOR($"hb")) <= 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("upsert == reference map semantics under random batches") {
    val rnd = new scala.util.Random(19)
    for (trial <- 1 to 20) {
      val base = (0 until 30).map(i => (rnd.nextInt(20).toLong, rnd.nextInt(100)))
        .distinctBy(_._1)
      val updates = (0 until 12).map(i => (rnd.nextInt(30).toLong, 1000 + rnd.nextInt(100)))
        .distinctBy(_._1)
      val got = graft.ops.Aggregates.upsert(
          base.toDF("k", "v"), updates.toDF("k", "v"), Seq("k"))
        .as[(Long, Int)].collect().toMap
      val want = base.toMap ++ updates.toMap
      assert(got == want, s"trial $trial")
    }
  }

  private type R = (Option[Long], Option[Int], Option[String])

  test("keyed writes keep the smallest row by content per key, at any partitioning") {
    // every keyed write resolves a batch's duplicate keys by content: the
    // row first on (a, b) ascending, nulls last. Duplicates here differ in
    // content (NULLs included), arrive shuffled, and run at 1 and 7
    // partitions; each path must keep exactly that row
    val rnd = new scala.util.Random(16)
    val root = tempDir("graft-prop-keyed")
    def opt[T](v: => T): Option[T] = if (rnd.nextInt(4) == 0) None else Some(v)
    def smallest(rows: Seq[R]): Map[Option[Long], R] =
      rows.groupBy(_._1).map { case (k, rs) =>
        k -> rs.minBy(r => (r._2.isEmpty, r._2.getOrElse(0), r._3.isEmpty, r._3.getOrElse("")))
      }
    def byKey(df: org.apache.spark.sql.DataFrame): Map[Option[Long], R] = {
      val rows = df.as[R].collect().toSeq
      assert(rows.map(_._1).distinct.size == rows.size, s"one row per key: $rows")
      rows.map(r => r._1 -> r).toMap
    }
    for (trial <- 1 to 3) {
      val batch: Seq[R] = Seq.fill(40)((opt(rnd.nextInt(8).toLong),
        opt(rnd.nextInt(4)), opt(Seq("x", "y", "z")(rnd.nextInt(3)))))
      val base: Seq[R] = (0L until 12L by 2L).map(k => (Some(k), Some(-1), Some("base")))
      val want = smallest(batch)
      val wantUpsert = base.map(r => r._1 -> r).toMap ++ want
      val baseDf = base.toDF("k", "a", "b")
      val existing = baseDf.select("k")
      for (parts <- Seq(1, 7)) {
        val df = rnd.shuffle(batch).toDF("k", "a", "b").repartition(parts)
        val ctx = s"trial $trial, $parts partitions"
        assert(byKey(graft.ops.Aggregates.upsert(baseDf, df, Seq("k"))) == wantUpsert, ctx)
        assert(byKey(graft.ops.Aggregates.idempotentNewRows(df, existing, Seq("k"))) ==
          want.filter { case (k, _) => !base.exists(_._1 == k) }, ctx)
        val fresh = graft.ops.ManifestTable(spark, s"$root/fresh-$trial-$parts")
        fresh.merge(df, Seq("k"))
        assert(byKey(fresh.snapshot()) == want, ctx)
        val table = graft.ops.ManifestTable(spark, s"$root/existing-$trial-$parts")
        table.overwrite(baseDf)
        table.merge(df, Seq("k"))
        assert(byKey(table.snapshot()) == wantUpsert, ctx)
        val path = s"$root/sink-$trial-$parts"
        graft.ops.Sinks.idempotentParquetAppend(spark, df, path, Seq("k"))
        assert(byKey(spark.read.schema(df.schema).parquet(path)) == want, ctx)
      }
    }
  }

  test("substringDupStats == brute window-multiset scan on random repetitive corpora") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c", "d")
    for (trial <- 1 to 5) {
      val k = 2 + rnd.nextInt(2) // windows of 2-3 tokens over a tiny vocab
      val docs = (0L until 25L).map { i =>
        (i, (0 until 3 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // reference: count every k-window occurrence across the whole corpus
      val allWins = docs.flatMap { case (id, text) =>
        val t = text.split("\\s+").filter(_.nonEmpty)
        t.sliding(k).filter(_.length == k).zipWithIndex.map { case (w, p) => (id, p + 1, w.mkString(" ")) }
      }
      val counts = allWins.groupBy(_._3).view.mapValues(_.size).toMap
      val want = allWins.groupBy(_._1).map { case (id, ws) =>
        val dups = ws.filter(w => counts(w._3) > 1)
        id -> (ws.size.toLong, dups.size.toLong,
          if (dups.isEmpty) 0 else dups.map(_._2).min)
      }
      val got = graft.ops.TextAnalysis.substringDupStats(docs.toDF("doc_id", "text"),
          "doc_id", "text", windowTokens = k)
        .select("doc_id", "n_windows", "n_dup_windows", "first_dup_pos")
        .as[(Long, Long, Long, Int)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got == want, s"trial $trial k=$k")
    }
  }

  test("rank-based winsorize == built-in percentile clamp, bit for bit, under random data") {
    // the round-5 rewrite's whole claim: the sort+straddle formulation
    // computes EXACTLY the built-in Percentile aggregate's interpolation
    // (same IEEE expression shape), so clamped values are bit-identical
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 8) {
      val nG = 1 + rnd.nextInt(4)
      val rows = (0 until 50 + rnd.nextInt(200)).map { _ =>
        val g = s"g${rnd.nextInt(nG)}"
        // mix of smooth values, duplicates, and negatives
        val v = if (rnd.nextInt(5) == 0) rnd.nextInt(10).toDouble
          else (rnd.nextDouble() - 0.5) * 1e6
        (g, v)
      }
      val df = rows.toDF("g", "v")
      val (pLo, pHi) = (0.05 + rnd.nextDouble() * 0.3, 0.6 + rnd.nextDouble() * 0.4)
      val got = graft.ops.Analytics.winsorize(df, col("g"), col("v"), pLo, pHi)
        .select("g", "v", "_wins").as[(String, Double, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sorted.toList).toMap
      val bounds = df.groupBy(col("g"))
        .agg(percentile(col("v"), lit(pLo)).as("lo"), percentile(col("v"), lit(pHi)).as("hi"))
        .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val (lo, hi) = bounds(g)
        g -> rs.map { case (_, v) => (v, math.min(math.max(v, lo), hi)) }.sorted.toList
      }
      assert(got == want, s"trial $trial pLo=$pLo pHi=$pHi")
    }
  }

  test("standardizeStats == built-in avg/stddev_pop + brute outlier count under random data") {
    // the literal-fold rewrite must preserve the operator's math: decimal-
    // exact moments agree with the built-in float aggregates to float
    // tolerance, and the outlier count matches a driver-side brute count
    // computed from the operator's OWN mean/std (the count is exact given
    // the stats; the stats match the built-ins within ulp-scale error)
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 6) {
      val nG = 1 + rnd.nextInt(3)
      val rows = (0 until 100 + rnd.nextInt(300)).map { _ =>
        val g = s"g${rnd.nextInt(nG)}"
        val v: Option[Double] =
          if (rnd.nextInt(10) == 0) None
          else Some(math.round((rnd.nextDouble() - 0.5) * 1e6) / 100.0) // 2-dec values
        (g, v)
      }
      val df = rows.toDF("g", "v")
      val zCut = 1.0 + rnd.nextDouble() * 2
      val got = graft.ops.Analytics.standardizeStats(df, col("g"), col("v"), zCut)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
      val ref = df.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), avg(col("v")).as("m"), stddev_pop(col("v")).as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      for ((g, (n, mean, std, nOut)) <- got) {
        val (rn, rm, rs) = ref(g)
        assert(n == rn)
        assert(math.abs(mean - rm) <= 1e-9 * math.max(1.0, math.abs(rm)), s"$g mean")
        assert(math.abs(std - rs) <= 1e-6 * math.max(1.0, rs), s"$g std")
        val brute = rows.filter(_._1 == g).flatMap(_._2)
          .count(v => math.abs(v - mean) > zCut * std)
        assert(nOut == brute, s"$g outliers: got $nOut brute $brute")
      }
    }
  }

  test("triangleStats == brute triple scan on random graphs (dups/loops/reversals included)") {
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 25
      // raw edge list with deliberate dirt: duplicates, reversals, loops
      val raw = (for {
        u <- 0L until n; v <- 0L until n
        if u < v && rnd.nextDouble() < 0.2
      } yield (u, v)).flatMap { case (u, v) =>
        Seq((u, v)) ++ (if (rnd.nextBoolean()) Seq((v, u)) else Nil)
      } ++ Seq((3L, 3L), (5L, 5L))
      val got = graft.ops.Analytics.triangleStats(raw.toDF("s", "t"), "s", "t")
        .as[(Long, Long, Long, Long, Double)].head()
      // brute reference over the cleaned undirected edge set
      val es = raw.collect { case (u, v) if u != v =>
        (math.min(u, v), math.max(u, v)) }.toSet
      val vs = es.flatMap(e => Seq(e._1, e._2))
      val deg = vs.map(x => x -> es.count(e => e._1 == x || e._2 == x)).toMap
      val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
      val vsSorted = vs.toSeq.sorted
      val tri = (for {
        i <- vsSorted.indices.iterator; j <- (i + 1 until vsSorted.size).iterator
        if es.contains((vsSorted(i), vsSorted(j)))
        k <- (j + 1 until vsSorted.size).iterator
        if es.contains((vsSorted(j), vsSorted(k))) && es.contains((vsSorted(i), vsSorted(k)))
      } yield 1).sum
      assert(got == ((vs.size.toLong, es.size.toLong, wedges, tri.toLong,
        if (wedges > 0) 3.0 * tri / wedges else 0.0)), s"seed $seed: got $got")
    }
  }

  test("PQ: ADC distance == exact squared L2 to the decoded vector under random codebooks") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(31)
    val (m, ksub, dsub) = (4, 6, 3)
    val books: Array[Array[Array[Double]]] = Array.fill(m)(
      Array.fill(ksub)(Array.fill(dsub)(rnd.nextInt(9) - 4.0)))
    val corpus = (0L until 40L).map(i =>
      (i, Seq.fill(m * dsub)(rnd.nextInt(9) - 4.0f))).toDF("id", "v")
    val qs = corpus.where($"id" % 8 === 0)
    val codes = Similarity.pqEncode(corpus, "id", "v", books)
      .as[(Long, Seq[Int])].collect().toMap
    def decode(cs: Seq[Int]): Seq[Double] =
      cs.zipWithIndex.flatMap { case (c, j) => books(j)(c) }
    val vecs = corpus.as[(Long, Seq[Float])].collect().toMap
    val got = Similarity.pqAdcTopK(qs, Similarity.pqEncode(corpus, "id", "v", books),
        "id", "v", books, 40)
      .select($"query_id", $"neighbor_id", -$"sim").as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, nb, adc) =>
      val want = vecs(q).map(_.toDouble).zip(decode(codes(nb)))
        .map { case (a, b) => (a - b) * (a - b) }.sum
      assert(adc == want, s"q=$q n=$nb adc=$adc want=$want")
    }
  }

  test("canonicalizeUrl: idempotent and variant-collapsing under random URL soup") {
    import graft.ops.Web
    val rnd = new scala.util.Random(77)
    val urls = (0 until 200).map { i =>
      val scheme = if (rnd.nextBoolean()) "http" else "https"
      val schemeSpelled = if (rnd.nextBoolean()) scheme.toUpperCase else scheme
      val user = if (rnd.nextInt(4) == 0) "u:p@" else ""
      val host = Seq.fill(rnd.nextInt(2) + 1)(s"h${rnd.nextInt(5)}").mkString(".") + ".org"
      val hostSpelled = if (rnd.nextBoolean()) host.toUpperCase else host
      val port = rnd.nextInt(4) match {
        case 0 => if (scheme == "http") ":80" else ":443" // default → strips
        case 1 => ":8080"
        case _ => ""
      }
      val path = Seq.fill(rnd.nextInt(3))(s"P${rnd.nextInt(9)}").mkString("/", "/", "") +
        (if (rnd.nextBoolean()) "/" else "")
      val params = Seq(s"utm_source=s$i", s"a=${rnd.nextInt(3)}", "utm_campaign=c")
        .filter(_ => rnd.nextBoolean())
      val query = if (params.isEmpty) "" else params.mkString("?", "&", "")
      val frag = if (rnd.nextBoolean()) "#frag" else ""
      s"$schemeSpelled://$user$hostSpelled$port$path$query$frag"
    }
    val c1 = urls.toDF("u").select(Web.canonicalizeUrl(col("u")).as("c"))
    val pairs = c1.select($"c", Web.canonicalizeUrl($"c").as("c2"))
      .as[(String, String)].collect()
    pairs.foreach { case (a, b) => assert(a == b, s"not a fixed point: $a -> $b") }
    // canonical forms carry no case-variant scheme/host, userinfo,
    // default port, utm param, or fragment
    pairs.map(_._1).foreach { c =>
      assert(c.startsWith("http://") || c.startsWith("https://"), c)
      assert(!c.contains("@") && !c.contains("#") && !c.contains("utm_"), c)
      assert(!c.matches("https://[^/]*:443(/.*)?") && !c.matches("http://[^/]*:80(/.*)?"), c)
    }
  }
  test("NGrams kernel == zip_with-fold spec on random token soups (nulls, empties, unicode, n=1..5)") {
    val rng = new scala.util.Random(20260814)
    val alphabet = Seq("a", "bb", "ccc", "Ω≈ç", "z z", "", "x")
    val rows = (0 until 300).map { i =>
      val len = rng.nextInt(8)
      val toks: Seq[String] = (0 until len).map { _ =>
        if (rng.nextInt(10) == 0) null else alphabet(rng.nextInt(alphabet.length))
      }
      (i.toLong, toks)
    }
    val df = rows.toDF("id", "toks")
    for (n <- 1 to 5) {
      val got = df.select(col("id"), Dedup.gramsFromTokens(col("toks"), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val want = df.select(col("id"), Dedup.gramsFromTokensSpec(col("toks"), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got === want, s"kernel != spec at n=$n")
    }
    // null ARRAY → empty in both forms
    val nullRow = Seq((1L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    assert(nullRow.select(Dedup.gramsFromTokens(col("toks"), 3)).head().getSeq[String](0).isEmpty)
    assert(nullRow.select(Dedup.gramsFromTokensSpec(col("toks"), 3)).head().getSeq[String](0).isEmpty)
  }
}
