package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different words about spark query engines and parquet columnar formats"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 0
  ).toDF("doc_id", "text")

  test("minhash LSH finds the constructed near-dup pairs with exact jaccard") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L))) // near-dups
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ngramJaccardPairs == brute-force exact jaccard when no shingle is df-capped") {
    val d = Tables.load(spark, sf0001, "documents").limit(300)
    val got = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        shingleN = 3, threshold = 0.3, maxDf = Int.MaxValue)
      .select("doc_a", "doc_b", "jac").as[(Long, Long, Double)].collect().toSet
    // brute: every pair sharing any shingle, exact jaccard, same threshold
    val sh = Dedup.shingleTable(d, "doc_id", "text", 3)
    val allCand = sh.select($"shingle", $"doc_id".as("doc_a"))
      .join(sh.select($"shingle", $"doc_id".as("doc_b")), Seq("shingle"))
      .where($"doc_a" < $"doc_b").select("doc_a", "doc_b").distinct()
    val brute = Dedup.jaccardVerify(allCand, sh, "doc_id", threshold = 0.3)
      .select("doc_a", "doc_b", "jac").as[(Long, Long, Double)].collect().toSet
    assert(got.nonEmpty && got == brute)
  }

  test("ngramContainmentPairs: an embedded excerpt scores containment 1.0 where jaccard misses it") {
    import org.apache.spark.sql.functions.{array_join, col, slice, split}
    val host = Tables.load(spark, sf0001, "documents").limit(100)
      .select(col("doc_id"), col("text"))
    // plant the first 12 tokens of each 5th doc as its own document: every
    // excerpt shingle is in the host, so containment is exactly 1.0, while
    // jaccard ≈ |excerpt|/|host| sits far below any useful threshold
    val excerpts = host.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 5000).as("doc_id"),
        array_join(slice(split(col("text"), "\\s+"), 1, 12), " ").as("text"))
    val corpus = host.unionByName(excerpts)
    val got = Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.9, maxDf = Int.MaxValue)
      .select("doc_a", "doc_b", "containment").as[(Long, Long, Double)].collect()
    val plantedPairs = got.filter { case (a, b, _) => b == a + 5000 }
    assert(plantedPairs.length == excerpts.count(),
      "every planted excerpt must pair with its host")
    assert(plantedPairs.forall(_._3 == 1.0), "embedded excerpts must score exactly 1.0")
    // the same pairs are invisible to jaccard at any comparable threshold
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.9, maxDf = Int.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(!jac.exists { case (a, b) => b == a + 5000 },
      "a 12-of-~50-token excerpt must NOT clear a 0.9 jaccard bar — that asymmetry is the point")
    // the df-capped candidate path admits the same verified set
    val capped = Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.9, maxDf = 10)
      .select("doc_a", "doc_b", "containment").as[(Long, Long, Double)].collect()
    assert(capped.toSet.subsetOf(got.toSet),
      "capping only removes candidates, never adds or changes verified values")
  }

  test("ngramJaccardPairs df cap: pair missed only when EVERY common shingle is hot") {
    // 12 docs all sharing one hot boilerplate sentence (shingles with
    // df=12), plus docs 0/1 sharing a rare edit. At maxDf=4 the hot
    // shingles generate no candidates: the boilerplate-only pairs vanish,
    // but (0,1) survives via its rare shared shingles — and its jac is
    // still computed over the FULL shingle sets (cap never biases the value).
    val boiler = "this document is provided as is without warranty of any kind"
    val d = (0 until 12).map { i =>
      val tail = if (i <= 1) s"unique alpha beta gamma delta content nr$i" else s"own w$i x$i y$i z$i q$i r$i"
      (i.toLong, s"$boiler $tail")
    }.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.3, Int.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.3, maxDf = 4)
      .select("doc_a", "doc_b", "jac").as[(Long, Long, Double)].collect()
    assert(uncapped.size > 1 && uncapped.contains((0L, 1L)))
    assert(capped.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    val jacCapped = capped.head._3
    val jacFull = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.3, Int.MaxValue)
      .where($"doc_a" === 0 && $"doc_b" === 1).select("jac").as[Double].head()
    assert(jacCapped == jacFull)
  }

  test("ngramJaccardPairs plans capped-postings + hash joins, never a cartesian/broadcast/corpus self-join") {
    val d = Tables.load(spark, sf0001, "documents").limit(100)
    // both members of the exact n-gram family share the candidate core, so
    // both get the same plan contract
    for (df <- Seq(
        Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5, 10),
        Dedup.ngramContainmentPairs(d, "doc_id", "text", 3, 0.8, 10))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
      // candidates come from ONE bounded-state aggregation over the exploded
      // table (CappedIds postings), not a corpus self-join on the shingle
      // string; the bound/verify joins are shuffled-hash (the pair stream is
      // never sorted, and no side is ever broadcast)
      assert(plan.contains("cappedids"))
      assert(plan.contains("ShuffledHashJoin") && !plan.contains("BroadcastHashJoin"))
    }
  }

  test("crossSourceExactOverlap: per-pair shared-text counts, distinct-within-source, no self pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", "s1"), (2L, "beta", "s1"), (3L, "alpha", "s1"), // dup within s1: counts once
      (4L, "alpha", "s2"), (5L, "beta", "s2"),                       // s1∩s2 = {alpha, beta}
      (6L, "beta", "s3"),                                            // s1∩s3 = s2∩s3 = {beta}
      (7L, "gamma", "s4")                                            // s4 shares nothing
    ).toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceExactOverlap(docs, "text", "source")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  test("jaccard of the exact-dup pair is 1.0") {
    val jac = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .where($"doc_a" === 0 && $"doc_b" === 3).select("jac").as[Double].head()
    assert(jac == 1.0)
  }

  test("simhash banded candidates == brute-force hamming scan (pigeonhole exactness)") {
    val d = Tables.load(spark, sf0001, "documents").limit(200)
    val banded = Dedup.simhashNearDupPairs(d, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val h = Dedup.simhash60(d, "doc_id", "text")
    val a = h.select($"doc_id".as("doc_a"), $"simhash".as("ha"))
    val b = h.select($"doc_id".as("doc_b"), $"simhash".as("hb"))
    val brute = a.crossJoin(b).where($"doc_a" < $"doc_b")
      .where(call_function("bit_count", $"ha".bitwiseXOR($"hb")) <= 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("bucket-width cap kills the quadratic mega-bucket; narrow buckets unaffected") {
    // planted layout: one degenerate bucket holding 1000 docs (the
    // boilerplate/empty-fingerprint case) + 3 narrow 2-doc buckets. Uncapped,
    // the mega-bucket alone emits 1000·999/2 pairs; capped, pair generation
    // must be EXACTLY the narrow buckets' pairs — O(bucket²) never happens.
    val mega = (0L until 1000L).map(i => (0, "DEGENERATE", i))
    val narrow = Seq((1, "x", 2000L), (1, "x", 2001L), (2, "y", 2002L),
      (2, "y", 2003L), (3, "z", 2004L), (3, "z", 2005L))
    val buckets = (mega ++ narrow).toDF("band", "bucket", "doc_id")
    val capped = Dedup.lshCandidatePairsCapped(buckets, "doc_id", maxBucketSize = 10)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((2000L, 2001L), (2002L, 2003L), (2004L, 2005L)))
    // the monitoring side-output surfaces exactly the dropped bucket + width
    val dropped = Dedup.lshOversizedBuckets(buckets, maxBucketSize = 10)
      .as[(Int, String, Long)].collect().toSeq
    assert(dropped == Seq((0, "DEGENERATE", 1000L)))
    // uncapped keeps the default behavior (spot-check a mega-bucket pair)
    val uncapped = Dedup.lshCandidatePairsCapped(buckets, "doc_id", Int.MaxValue)
    assert(uncapped.where($"doc_a" === 0L && $"doc_b" === 1L).count() == 1)
    // recall is a monitored trade, not silent loss: end-to-end, a cap wide
    // enough for the corpus' real dup groups changes nothing
    val all = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cappedE2e = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5,
        maxBucketSize = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cappedE2e == all)
  }

  test("hamming band cap: over-cap clusters dropped, at-cap survives, audit matches") {
    // identical-signature clusters (the degenerate perceptual-hash regime):
    // widths 12 (> cap 8, must drop on every chunk), 8 (== cap, must keep —
    // the off-by-one pin), 3 (< cap). Signatures have pairwise-distinct
    // 16-bit chunks at every k, so no cross-cluster bucket merging.
    val sig = ((0L until 12L).map(i => (i, 0x0111222233334444L)) ++
               (100L until 108L).map(i => (i, 0x0555666677778888L)) ++
               (200L until 203L).map(i => (i, 0x0999aaaabbbbccccL))).toDF("id", "h")
    val capped = Dedup.hammingNearDupPairs(sig, "id", "h", maxBucketWidth = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expectKept =
      (for (a <- 100L until 108L; b <- a + 1 until 108L) yield (a, b)).toSet ++
      (for (a <- 200L until 203L; b <- a + 1 until 203L) yield (a, b)).toSet
    assert(capped == expectKept)
    assert(Dedup.hammingNearDupPairs(sig, "id", "h").count() == 66 + 28 + 3)
    // audit = exactly the wide cluster's 4 chunk buckets, width 12 each
    val audit = Dedup.hammingOversizedBuckets(sig, "id", "h", maxBucketWidth = 8)
      .as[(Int, Long, Long)].collect()
    assert(audit.length == 4 && audit.forall(_._3 == 12L))
    // md5 text form: the exact-dup pair (0, 3) co-buckets on all 4 chunks,
    // so cap 1 drops it while the audit surfaces the overflow
    def txtPairs(cap: Int) =
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxBucketWidth = cap)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(txtPairs(Int.MaxValue).contains((0L, 3L)) && !txtPairs(1).contains((0L, 3L)))
    assert(Dedup.simhashOversizedBuckets(docs, "doc_id", "text", maxBucketWidth = 1).count() >= 4)
  }

  test("int-slice minhash signatures and buckets == hex-substring definition") {
    // the r20 signature fast path: mh values are the INT images of the
    // oracle's 4-hex-char md5 slices — min-agg equality and the band
    // bucket md5 must hold byte-for-byte against the definitional
    // string form (incl. non-ASCII shingles: md5 runs over UTF-8 bytes)
    val d = Tables.load(spark, sf0001, "documents").limit(200)
      .select(col("doc_id"), concat(col("text"), lit(" žluťoučký 日本語")).as("text"))
    val sh = Dedup.shingleTable(d, "doc_id", "text", 3)
    val got = Dedup.minhashSignatures(sh, "doc_id")
    // definitional string form (the pre-r20 implementation, verbatim)
    val want = sh.withColumn("_md5", md5(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(min(substring(col("_md5"), 1, 4)).as("mh0"),
        (1 until 8).map(s => min(substring(col("_md5"), s * 4 + 1, 4)).as(s"mh$s")): _*)
    val gotHex = got.select(col("doc_id") +: (0 until 8).map(s =>
      graft.functions.Md5SlicesOps.md5Hex4(col(s"mh$s")).as(s"mh$s")): _*)
    assert(gotHex.exceptAll(want).isEmpty && want.exceptAll(gotHex).isEmpty)
    // band buckets: md5 over the reconstructed hex equals md5 over the
    // original substrings
    val gotB = Dedup.lshBuckets(got, "doc_id")
    val wantB = {
      val bands = (0 until 4).map { b =>
        struct(lit(b).as("band"),
          md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("bucket"))
      }
      want.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    }
    assert(gotB.exceptAll(wantB).isEmpty && wantB.exceptAll(gotB).isEmpty)
  }

  test("md5Bits60 kernel == conv(substring(md5hex,1,15),16,10), including non-ASCII") {
    val d = Tables.load(spark, sf0001, "documents").limit(200)
      .select(col("doc_id"), concat(col("text"), lit(" žluťoučký 日本語")).as("text"))
    val tok = d.select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
    val diff = tok
      .withColumn("a", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .withColumn("b", graft.functions.Md5SlicesOps.md5Bits60(col("tok")))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("winnow md5 kernel == expression-form specification, including non-ASCII") {
    import graft.ops.TextAnalysis
    val d = Tables.load(spark, sf0001, "documents").limit(100)
      .unionByName(Seq((9001L, "héllo wörld çafé naïve résumé over and over héllo wörld çafé"),
        (9002L, "short"), (9003L, "elevenchars")).toDF("doc_id", "text")
        .withColumn("lang", lit("xx")).withColumn("source", lit("t"))
        .withColumn("n_chars", length($"text")).select("doc_id", "text", "lang", "source", "n_chars"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "fp").as[(Long, String)].collect().sorted.toSeq
    assert(rows(TextAnalysis.winnowFingerprints(d, "doc_id", "text")) ==
      rows(TextAnalysis.winnowFingerprintsExpr(d, "doc_id", "text")))
  }

  test("winnowing: exact dups share all fingerprints; edits preserve most") {
    import graft.ops.TextAnalysis
    val base = "the quick brown fox jumps over the lazy dog near the river bank today and tomorrow"
    val edited = "PREFIX " + base // winnowing is local: one edit perturbs only nearby windows
    val docs3 = Seq((0L, base), (1L, base), (2L, edited)).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs3, "doc_id", "text")
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(0L) == fps(1L)) // identical docs -> identical fingerprint sets
    val overlap = (fps(0L) intersect fps(2L)).size.toDouble / fps(0L).size
    assert(overlap >= 0.5, s"locality lost: overlap=$overlap")
  }

  test("identical texts get identical simhash; disjoint-vocab texts differ") {
    val h = Dedup.simhash60(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(h(0L) == h(3L))
    assert(h(0L) != h(2L))
  }

  test("pageRank: cycle is the exact uniform fixed point; hubs outrank spokes; repartition-invariant") {
    // 3-cycle: pr = 1/3 each is exact at any damping (verify to double ulp)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cpr = Dedup.pageRank(cycle, "src", "dst", iters = 8)
      .as[(Long, Double)].collect().toMap
    cpr.values.foreach(v => assert(math.abs(v - 1.0 / 3.0) < 1e-15))
    // star: everyone links to the hub -> hub outranks all spokes. The
    // 1<->9 back-edge makes rank oscillate with period 2, decaying as
    // (d^2)^k - 40 iterations put it within ~1e-5 of the fixed point
    // (true values: hub 0.4797, back-spoke 0.4452, leaf spokes 0.0375)
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 1L)).toDF("src", "dst")
    val spr = Dedup.pageRank(star, "src", "dst", iters = 40)
      .as[(Long, Double)].collect().toMap
    assert(spr(9L) == spr.values.max && spr(9L) > spr(1L))
    assert(spr(1L) > spr(2L)) // the back-spoke receives the hub's mass
    assert(spr(2L) == spr(3L)) // symmetric leaves tie exactly
    // decimal contribution sums make the result partitioning-invariant
    val spr8 = Dedup.pageRank(star.repartition(8), "src", "dst", iters = 40)
      .as[(Long, Double)].collect().toMap
    assert(spr8 == spr)
  }

  test("incrementalNearDupPairs: maxBucketSize caps each side's buckets (the knob was silently ignored)") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog near the river bank today"
    val unique = "statistical language modeling corpora require careful deduplication pipelines"
    // history: 3 copies of the boilerplate (bucket width 3 per band on the
    // old side) + 1 unique doc; incoming: 1 boilerplate copy + 1 near-dup
    // of the unique doc
    val hist = Seq((0L, boiler), (2L, boiler), (4L, boiler), (6L, unique))
      .toDF("doc_id", "text")
    val inc = Seq((1L, boiler), (3L, unique.replace("pipelines", "pipeline")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.incrementalNearDupPairs(hist, inc, "doc_id", "text", threshold = 0.5)
      .select("doc_new", "doc_old").as[(Long, Long)].collect().toSet
    assert(uncapped == Set((1L, 0L), (1L, 2L), (1L, 4L), (3L, 6L)), s"got $uncapped")
    // cap 2: the old side's width-3 boilerplate buckets drop from pair
    // generation; the width-1 unique buckets survive
    val capped = Dedup.incrementalNearDupPairs(hist, inc, "doc_id", "text",
        threshold = 0.5, maxBucketSize = 2)
      .select("doc_new", "doc_old").as[(Long, Long)].collect().toSet
    assert(capped == Set((3L, 6L)),
      s"the over-cap boilerplate bucket must drop, the narrow one survive — got $capped")
  }

  test("incrementalNearDupPairs == cross-side slice of the full self-dedup; dedup drops exactly the matched") {
    val d = Tables.load(spark, sf0001, "documents").limit(400)
    val hist = d.where($"doc_id" % 2 === 0)
    val inc = d.where($"doc_id" % 2 === 1)
    val got = Dedup.incrementalNearDupPairs(hist, inc, "doc_id", "text", threshold = 0.1)
      .select("doc_new", "doc_old").as[(Long, Long)].collect().toSet
    // reference: full self-dedup over the union, restricted to cross pairs
    val full = Dedup.minhashNearDupPairs(d, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    val cross = full.flatMap { case (a, b, _) =>
      if (a % 2 == 0 && b % 2 == 1) Some((b, a))
      else if (a % 2 == 1 && b % 2 == 0) Some((a, b))
      else None
    }.toSet
    assert(got.nonEmpty && got == cross)
    // the decision: matched incoming docs drop, the rest pass through
    val kept = Dedup.applyIncrementalDedup(inc, "doc_id",
        Dedup.incrementalNearDupPairs(hist, inc, "doc_id", "text", threshold = 0.1))
      .select("doc_id").as[Long].collect().toSet
    val incIds = inc.select("doc_id").as[Long].collect().toSet
    assert(kept == incIds -- got.map(_._1))
    // and never a history self-pair: no plan shape pairs old × old
    assert(got.forall { case (n, o) => n % 2 == 1 && o % 2 == 0 })
  }

  test("pageRankFixedPoint tracks float pageRank within quantization error; bit-stable under repartition") {
    // same star graph: scaled-long ranks must agree with the float ranks
    // to ~iters·maxOutdeg/scale (floor-division loss per iteration)
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 1L)).toDF("src", "dst")
    val fl = Dedup.pageRank(star, "src", "dst", iters = 20)
      .as[(Long, Double)].collect().toMap
    val fp = Dedup.pageRankFixedPoint(star, "src", "dst", iters = 20)
      .as[(Long, Long)].collect().toMap
    assert(fp.keySet == fl.keySet)
    fp.foreach { case (v, p) =>
      assert(math.abs(p / 1e15 - fl(v)) < 1e-9, s"node $v: fixed ${p / 1e15} vs float ${fl(v)}")
    }
    // ordering decisions agree (the property dedup representative-picking needs)
    assert(fp.toSeq.sortBy(_._2).map(_._1) == fl.toSeq.sortBy(_._2).map(_._1))
    // and the fixed-point result is BIT-identical across partitionings —
    // not just close: equal longs
    val fp8 = Dedup.pageRankFixedPoint(star.repartition(8), "src", "dst", iters = 20)
      .as[(Long, Long)].collect().toMap
    assert(fp8 == fp)
  }

  test("dedup family job counts stay bounded (scheduling-latency audit)") {
    // Per-query wall time on a loaded multi-tenant host is dominated by job
    // scheduling rounds, not per-row work — so the job count IS the perf
    // contract here. Measured under the BENCH posture (AQE off): with AQE
    // on, every materialized exchange is its own job, so counts track
    // exchange counts instead of scheduling rounds and the sort-merge
    // pipelines would look WORSE than the broadcast ones they replaced
    // (r6 measured: fast form 10 AQE-on vs 2 AQE-off). The r5 driver
    // regression on the md5 form was 5 broadcast-build jobs — the small-SF
    // static estimator broadcasting corpus-sized join sides
    // (pairs/shingles/sizes); merge hints in lshCandidatePairsCapped and
    // jaccardVerify pin those to sort-merge, which is also the only join
    // shape that survives 100 TB. Bounds = measured + 1 slack.
    val corpus = Tables.load(spark, sf0001, "documents")
    def jobsOf(f: => Unit): Int = {
      // measure the COLD path (what the bench times): the warm-up pass
      // leaves shingle/signature tables cached, and CacheManager would
      // serve the measured run's identical plans from those blocks
      spark.catalog.clearCache()
      jobsRunBy(f)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // warm codegen/parquet paths so first-use jobs don't pollute the counts
      noop(Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 0.1))
      val nSimhash = jobsOf(noop(
        Dedup.simhashNearDupPairs(corpus, "doc_id", "text")))
      assert(nSimhash <= 4, s"simhashNearDupPairs ran $nSimhash jobs (bound 4)")
      val nClusters = jobsOf(noop(
        Dedup.dedupClusters(
          Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 0.1),
          "doc_a", "doc_b")))
      assert(nClusters <= 5, s"pairs→dedupClusters ran $nClusters jobs (bound 5)")
      val nMd5 = jobsOf(noop(
        Dedup.minhashNearDupPairs(corpus, "doc_id", "text", 0.1)))
      assert(nMd5 <= 3, s"minhashNearDupPairs (md5) ran $nMd5 jobs (bound 3)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("label propagation (the 100-TB >4M-edge branch): O(log diameter) rounds, skew-safe") {
    // dedupClusters' large-graph strategy had correctness coverage only via
    // the adaptive default (which routes small inputs to union-find) — force
    // the distributed branch with smallGraphEdges = 0 and pin its SCALE
    // contract: convergence in ~log2(diameter) pointer-jumping rounds, not
    // O(diameter) plain-propagation rounds (rounds ARE the 100-TB cost —
    // each is a fixed set of shuffles over the label table). Rounds are read
    // from the operator's own observable; a LOOSE job bound rides along so
    // a per-round job blowup (extra eager materializations creeping into
    // the loop) still fails even though exact jobs-per-round is a Spark
    // implementation detail (measured 3/round here: changed-count +
    // checkpoint materializations).
    def runAndCountRounds(edges: org.apache.spark.sql.DataFrame): (Array[(Long, Long)], Int, Int) = {
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        var out = Array.empty[(Long, Long)]
        val nJobs = jobsRunBy {
          out = Dedup.dedupClusters(edges, "a", "b", maxRounds = 30, smallGraphEdges = 0)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        (out, Dedup.lastPropagationRounds, nJobs)
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
    // worst diameter per edge: a 64-node path (diameter 63). A plain
    // min-propagation needs ~63 rounds; pointer jumping must land near
    // ceil(log2 63) = 6 (+ the final no-change detection round + 1 slack).
    val path = spark.range(0, 63).select(col("id").as("a"), (col("id") + 1).as("b"))
    val (pathOut, pathRounds, pathJobs) = runAndCountRounds(path)
    assert(pathOut.length == 64 && pathOut.forall(_._2 == 0L),
      "every path node must label to the component min")
    assert(pathRounds <= 8, s"path-64 took $pathRounds rounds (log2(63)=6, bound 8)")
    assert(pathJobs <= 4 * pathRounds + 4,
      s"path-64 ran $pathJobs jobs over $pathRounds rounds — per-round job blowup")
    // skewed component: a 50k-leaf star (one node's label feeds every
    // neighbor-min group) unioned with a far-id path — the hub must not
    // stall convergence or corrupt the other component's labels
    val star = spark.range(1, 50001).select(lit(0L).as("a"), col("id").as("b"))
    val far = spark.range(1000000L, 1000031L)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val (mixOut, mixRounds, _) = runAndCountRounds(star.unionByName(far))
    val (starL, farL) = mixOut.partition(_._1 < 1000000L)
    assert(starL.length == 50001 && starL.forall(_._2 == 0L), "star labels to hub-min 0")
    assert(farL.length == 32 && farL.forall(_._2 == 1000000L), "path labels to its own min")
    assert(mixRounds <= 8, s"star+path took $mixRounds rounds (bound 8)")
  }

  test("CappedIds: complete sorted postings at df <= cap, empty + exact count for hot, partition-invariant") {
    import org.apache.spark.sql.functions._
    // shingle "cold" in 3 docs, "warm" in exactly cap docs, "hot" in cap+5
    val cap = 4
    val rows = Seq.tabulate(3)(i => ("cold", (10 - i).toLong)) ++
      Seq.tabulate(cap)(i => ("warm", i.toLong)) ++
      Seq.tabulate(cap + 5)(i => ("hot", i.toLong))
    def run(parts: Int) = rows.toDF("shingle", "doc_id").repartition(parts)
      .groupBy($"shingle").agg(graft.functions.CappedIds(cap)($"doc_id").as("g"))
      .select($"shingle", $"g.n", $"g.ids")
      .as[(String, Long, Seq[Long])].collect()
      .map { case (s, n, ids) => s -> ((n, ids)) }.toMap
    val got = run(1)
    assert(got("cold") == ((3L, Seq(8L, 9L, 10L))))   // complete AND sorted
    assert(got("warm") == ((cap.toLong, (0 until cap).map(_.toLong))))
    assert(got("hot") == (((cap + 5).toLong, Seq.empty[Long]))) // exact df, no list
    assert(run(7) == got, "result must not depend on partitioning")
    // cap = Int.MaxValue degenerate: plain complete postings (the two
    // take/slice int-overflow regressions both produced EMPTY lists here)
    val unc = rows.toDF("shingle", "doc_id")
      .groupBy($"shingle").agg(graft.functions.CappedIds(Int.MaxValue)($"doc_id").as("g"))
      .select($"g.ids").as[Seq[Long]].collect()
    assert(unc.forall(_.nonEmpty))
  }
}
