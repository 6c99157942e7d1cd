package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Sampling, TextAnalysis}

class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("chunkByTokens: stride-overlap windows cover all tokens, tails shorten") {
    val doc = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkByTokens(doc, "doc_id", "text", chunkTokens = 4, stride = 3)
      .select("chunk_no", "n_chunk_tokens", "chunk_text")
      .as[(Int, Int, String)].collect().sortBy(_._1)
    assert(chunks.map(_._2).toSeq == Seq(4, 4, 4, 1)) // starts 1,4,7,10
    assert(chunks.head._3 == "t1 t2 t3 t4")
    assert(chunks(1)._3 == "t4 t5 t6 t7") // one-token overlap at stride 3
    assert(chunks.last._3 == "t10")
  }

  test("scrubPii redacts emails, urls, phones; counts match") {
    val df = Seq((1L, "mail a.b@x.io and +1-555-0042 1234 at https://x.io/p?q=1 end"))
      .toDF("id", "text")
    val (e, u, p) = TextAnalysis.piiCounts(col("text"))
    val row = df.select(TextAnalysis.scrubPii(col("text")).as("s"), e.as("e"), u.as("u"), p.as("p"))
      .as[(String, Int, Int, Int)].head()
    assert(row._1 == "mail <EMAIL> and <PHONE> at <URL> end")
    assert((row._2, row._3, row._4) == (1, 1, 1))
  }

  test("hash-stratified sampling is deterministic, per-stratum sized, and a pure filter") {
    val li = Tables.load(spark, sf0001, "lineitem")
    def sample() = Sampling.stratifiedSampleByHash(li, $"l_returnflag",
      concat_ws("-", $"l_orderkey", $"l_linenumber"), Map("A" -> 10, "N" -> 2, "R" -> 50))
    val counts = sample().groupBy("l_returnflag").count()
      .as[(String, Long)].collect().toMap
    val again = sample().groupBy("l_returnflag").count()
      .as[(String, Long)].collect().toMap
    assert(counts == again) // reproducible, unlike rand()
    val totals = li.groupBy("l_returnflag").count().as[(String, Long)].collect().toMap
    def rate(f: String) = counts.getOrElse(f, 0L).toDouble / totals(f)
    assert(math.abs(rate("A") - 0.10) < 0.05)
    assert(math.abs(rate("R") - 0.50) < 0.08)
    assert(rate("N") < 0.07)
    // a sample is a FILTER: no shuffle in the plan
    assert(!sample().queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("topTermsByTfidf ranks rare-but-frequent terms above common ones") {
    val docs = Seq(
      (1L, "zebra zebra zebra the the a"),
      (2L, "the a of and to"),
      (3L, "the a of and to")).toDF("doc_id", "text")
    val top = TextAnalysis.topTermsByTfidf(docs, "doc_id", "text", k = 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    assert(top(1L) == "zebra") // tf 3/df 2 (1.0) beats the stopwords
  }

  test("topTermsByTfidf: the tf/df TRADE-OFF ranks a rarer tf=2 term over a tf=3 boilerplate term") {
    // the old (tf desc, df asc) lexicographic rank consulted df only on
    // tf ties, so the corpus-wide boilerplate term won — the opposite of
    // what a TF-IDF ranking promises. ratio rank: bbb 3/(3+1)=0.75 <
    // rare 2/(1+1)=1.0.
    val docs = Seq(
      (1L, "bbb bbb bbb rare rare"),
      (2L, "bbb x"),
      (3L, "bbb y")).toDF("doc_id", "text")
    val top = TextAnalysis.topTermsByTfidf(docs, "doc_id", "text", k = 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    assert(top(1L) == "rare", s"ratio-idf must beat raw tf: $top")
  }

  test("piiCounts and qualityScored: NULL text yields NULL counts, never ANSI-off size(null) = -1") {
    val docs = Seq((1L, Option("a b c the a of and to x y")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    val (em, ur, ph) = TextAnalysis.piiCounts(col("text"))
    val pii = docs.select(col("doc_id"), em.as("e"), ur.as("u"), ph.as("p"))
      .as[(Long, Option[Int], Option[Int], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(pii(2L) == ((None, None, None)), s"null text must not count -1: ${pii(2L)}")
    val q = TextAnalysis.qualityScored(docs, col("text"))
      .select("doc_id", "n_tokens").as[(Long, Option[Int])].collect().toMap
    assert(q(2L).isEmpty, s"n_tokens must be NULL for null text: ${q(2L)}")
    assert(q(1L).contains(10))
  }

  test("repetitionSignals: dup and top-gram fractions on a constructed repeater") {
    val docs = Seq((1L, "a b a b a"), (2L, "w x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .select("doc_id", "n_grams", "n_distinct", "dup_frac", "top_frac")
      .as[(Long, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 2L, 0.5, 0.5))) // "a b","b a","a b","b a"
    assert(got(2L) == ((2L, 3L, 3L, 0.0, 1.0 / 3.0)))
  }

  test("contaminationScores: benchmark member scores 1.0, disjoint doc scores 0.0") {
    val corpus = Seq((1L, "p q r s t u"), (2L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val bench = Seq((9L, "p q r s t u and more")).toDF("doc_id", "text")
    val got = Dedup.contaminationScores(corpus, bench, "doc_id", "text")
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0) // every 3-gram of doc 1 appears in the benchmark
    assert(got(2L) == 0.0)
  }

  test("packSequences: offsets are the exclusive running totals, packs partition the token stream") {
    val df = Seq(("a", 1L, 100L), ("a", 2L, 200L), ("a", 3L, 50L), ("b", 1L, 300L))
      .toDF("shard", "id", "n_tok")
    val got = TextAnalysis.packSequences(df, $"shard", Seq($"id"), $"n_tok", seqLen = 128)
      .select("shard", "id", "start_off", "pack_id", "pack_off")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("a", 1L, 0L, 0L, 0L),      // first doc starts pack 0
      ("a", 2L, 100L, 0L, 100L),  // crosses into pack 1 but STARTS in 0
      ("a", 3L, 300L, 2L, 44L),   // 300 = 2*128 + 44
      ("b", 1L, 0L, 0L, 0L)))     // shards pack independently
  }

  test("mixByTokenBudget: kept token mass tracks budget*weight; zero-weight sources drop; oversample caps at 1") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"source", size(TextAnalysis.tokens($"text")).cast("long").as("n_tok"))
    val weights = Map("src0" -> 0.5, "src1" -> 0.5)
    val kept = Sampling.mixByTokenBudget(docs, $"doc_id", $"source", $"n_tok", weights, 800L)
      .groupBy($"source").agg(sum($"n_tok").as("kept_tok")).as[(String, Long)].collect().toMap
    assert(kept.keySet.subsetOf(Set("src0", "src1")), "unweighted sources must be dropped")
    // expected kept mass per source is 400 tokens; hash sampling is i.i.d.
    // so allow wide slack, but it must be a strict subsample
    kept.values.foreach(t => assert(t > 0))
    val totals = docs.where($"source".isin("src0", "src1"))
      .groupBy($"source").agg(sum($"n_tok")).as[(String, Long)].collect().toMap
    kept.foreach { case (s, t) => assert(t <= totals(s)) }
    // a budget far above the corpus keeps EVERYTHING (rate caps at 1)
    val all = Sampling.mixByTokenBudget(docs, $"doc_id", $"source", $"n_tok", weights, 10000000L)
    assert(all.count() == docs.where($"source".isin("src0", "src1")).count())
    // determinism: the same call yields the same rows
    val ids1 = Sampling.mixByTokenBudget(docs, $"doc_id", $"source", $"n_tok", weights, 800L)
      .select("doc_id").as[Long].collect().toSet
    val ids2 = Sampling.mixByTokenBudget(docs, $"doc_id", $"source", $"n_tok", weights, 800L)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
    // an unweighted source with NULL (or zero) token metadata must DROP:
    // the raw budget·w/total division is NULL there and least() SKIPS a
    // NULL operand, which used to keep the whole source at rate 1.0
    val withNullTok = docs.unionByName(
      Seq((900001L, "srcNULL", Option.empty[Long]), (900002L, "srcNULL", Option.empty[Long]))
        .toDF("doc_id", "source", "n_tok"))
    val keptNull = Sampling.mixByTokenBudget(withNullTok, $"doc_id", $"source", $"n_tok",
        weights, 800L)
      .where($"source" === "srcNULL")
    assert(keptNull.count() == 0L,
      "a NULL-token-total unweighted source must be dropped, not kept in full")
  }

  test("mixByTemperature: alpha flattens shares toward uniform; alpha=1 is natural; deterministic") {
    // two sources with a 9:1 mass ratio; a generous budget makes rates
    // proportional to the target shares (before the min(1,·) cap bites)
    val docs = ((1 to 180).map(i => (i.toLong, "big", 10L)) ++
      (1001 to 1020).map(i => (i.toLong, "small", 10L))).toDF("doc_id", "source", "n_tok")
    def keptBySource(alpha: Double, budget: Long): Map[String, Long] =
      Sampling.mixByTemperature(docs, $"doc_id", $"source", $"n_tok", alpha, budget)
        .groupBy($"source").agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    // alpha=1: target shares are the natural 9:1 -> both sources sampled at
    // the SAME rate (budget/total), so the kept ratio tracks 9:1 loosely
    val nat = keptBySource(1.0, 1000L)
    // alpha=0: shares are uniform (1/2 each) -> the small source's rate
    // caps at 1 (budget/2 = 500 tokens > its 200-token mass): ALL small
    // docs survive while big is subsampled
    val flat = keptBySource(0.0, 1000L)
    assert(flat("small") == 20L, s"uniform share must keep all of small, got $flat")
    assert(flat("big") < 180L, "big must be downsampled under the flattened share")
    // alpha=0.5 sits between: small keeps more than its natural share
    val half = keptBySource(0.5, 1000L)
    assert(half("small") >= nat.getOrElse("small", 0L))
    // determinism: identical calls keep identical rows
    val a = Sampling.mixByTemperature(docs, $"doc_id", $"source", $"n_tok", 0.5, 1000L)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.mixByTemperature(docs, $"doc_id", $"source", $"n_tok", 0.5, 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // NULL sources and all-NULL token masses drop instead of NPE-ing the
    // driver-side totals collect
    val messy = (Seq((1L, Some("big"), Some(10L)), (2L, None: Option[String], Some(10L)),
      (3L, Some("nullmass"), None: Option[Long]), (4L, Some("big"), Some(10L))))
      .toDF("doc_id", "source", "n_tok")
    val kept = Sampling.mixByTemperature(messy, $"doc_id", $"source", $"n_tok", 0.5, 1000000L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L), s"null source/mass rows must drop, got $kept")
  }

  test("heavyHittersCertified: exact counts, certified CMS bounds, deterministic rank-k boundary") {
    // planted zipf-ish stream: token t_i appears (40-i) times, plus a tie
    // cohort at the k boundary to exercise the (cnt desc, item) tie-break
    val rows = (0 until 30).flatMap(i => Seq.fill(40 - i)(s"t$i")) ++
      Seq("tie_a", "tie_b", "tie_c").flatMap(Seq.fill(5)(_))
    val df = rows.toDF("token")
    val hh = TextAnalysis.heavyHittersCertified(df, "token", k = 10)
      .as[(String, Long, Boolean)].collect()
    assert(hh.length == 10)
    assert(hh.map(_._1).take(3).toSeq == Seq("t0", "t1", "t2"))
    assert(hh.forall(_._3), s"CMS bound flag false: ${hh.mkString(", ")}")
    val expected = (0 until 10).map(i => s"t$i" -> (40L - i)).toMap
    assert(hh.map(r => r._1 -> r._2).toMap == expected)
    // one-sided error: the estimate can never undercount (certified inside
    // the flag, but assert the raw property on a fresh small stream too)
    val small = Seq("x", "x", "y").toDF("token")
    val got = TextAnalysis.heavyHittersCertified(small, "token", k = 2)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(got == Seq(("x", 2L, true), ("y", 1L, true)))
  }

  test("assignSplit: complete, weight-proportional, repartition-stable, shuffle-free") {
    val docs = Tables.load(spark, sf0001, "documents")
    def split(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("split", Sampling.assignSplit($"doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10)))
    val counts = split(docs).groupBy("split").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum
    assert(counts.keySet == Set("train", "val", "test")) // complete: no null split
    assert(math.abs(counts("train").toDouble / total - 0.80) < 0.05)
    assert(math.abs(counts("val").toDouble / total - 0.10) < 0.04)
    // the SAME rows land in the SAME split regardless of partitioning
    val a = split(docs).select("doc_id", "split").as[(Long, String)].collect().toSet
    val b = split(docs.repartition(7)).select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(a == b)
    // pure projection: no exchange below the assignment
    assert(!split(docs).queryExecution.executedPlan.toString.contains("Exchange"))
    require(intercept[IllegalArgumentException] {
      Sampling.assignSplit($"doc_id", Seq("a" -> 50, "b" -> 40))
    }.getMessage.contains("summing to 100"))
  }

  test("bloom-verified contamination EQUALS the exact path (sketch leaves the answer)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val bench = docs.where($"doc_id" % 37 === 0)
    val exact = Dedup.contaminationScores(docs, bench, "doc_id", "text")
    val verified = Dedup.contaminationScoresBloomVerified(docs, bench, "doc_id", "text")
    assert(verified.columns.toSeq == exact.columns.toSeq)
    val mismatches = exact.unionByName(verified)
      .groupBy("doc_id", "n_shingles", "n_contaminated", "contamination")
      .count().where($"count" =!= 2).count()
    assert(exact.count() > 0 && mismatches == 0)
    // and the corpus-sized shingle table is never joined: the only joins in
    // the plan sit above the per-doc aggregation (flagged-sliver verify)
    val agg = verified.queryExecution.executedPlan.toString
    assert(!agg.contains("CartesianProduct") && !agg.contains("BroadcastNestedLoop"))
  }

  test("dedupClusters labels every member with the component minimum") {
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("dedupClusters on an empty pair set returns an empty result without a cluster job") {
    // the r19 shortcut: zero edges short-circuits to a LOCAL empty relation
    // after the strategy-count job — schema and rows identical to what the
    // union-find would have produced over nothing
    val pairs = Seq((5L, 3L)).toDF("doc_a", "doc_b").where(lit(false))
    val got = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
    assert(got.columns.toList == List("doc_id", "cluster_rep"))
    assert(got.isEmpty)
    // and the empty result is a local relation, so downstream anti-joins
    // can be collapsed by PropagateEmptyRelation instead of planning a
    // broadcast build over nothing
    assert(got.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    // mixed-type pair sets (int src, long dst — the label-propagation
    // path's territory) must get the PROMOTED key type even when empty,
    // or the result schema depends on whether the batch happened to be
    // empty and downstream unions across triggers break (r19 ADVICE)
    val mixed = Seq((5, 3L)).toDF("doc_a", "doc_b").where(lit(false))
    val gotMixed = Dedup.dedupClusters(mixed, "doc_a", "doc_b")
    val nonEmptyMixed = Dedup.dedupClusters(Seq((5, 3L)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b")
    assert(gotMixed.schema("doc_id").dataType == nonEmptyMixed.schema("doc_id").dataType &&
      gotMixed.schema("cluster_rep").dataType == nonEmptyMixed.schema("cluster_rep").dataType,
      s"empty-input schema ${gotMixed.schema} != non-empty ${nonEmptyMixed.schema}")
  }

  test("dedupClustersBounded matches dedupClusters (same min-id components, lazy plan)") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
        (5L, 3L), (3L, 9L), (20L, 21L), (null, 7L))
      .toDF("doc_a", "doc_b")
    val bounded = Dedup.dedupClustersBounded(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val adaptive = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(bounded == adaptive)
    assert(bounded == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
    // exotic key types have no label-propagation fallback here: fail loudly
    val mixed = Seq((Array(1.toByte), Array(2.toByte))).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](
      Dedup.dedupClustersBounded(mixed, "doc_a", "doc_b"))
    assert(e.getMessage.contains("Comparable"))
  }

  test("applyClusterDedup keeps one representative per cluster plus all singletons") {
    val docs = Seq((1L, "a"), (3L, "b"), (5L, "c"), (9L, "d"), (20L, "e"), (21L, "f"))
      .toDF("doc_id", "text")
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
    val kept = Dedup.applyClusterDedup(docs, "doc_id",
        Dedup.dedupClusters(pairs, "doc_a", "doc_b"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 20L)) // singleton 1; reps 3 and 20 survive
  }

  test("dedupClusters converges on a long path graph (pointer jumping)") {
    val n = 40 // path 0-1-2-...-40: worst-case diameter for propagation
    // smallGraphEdges = 0 forces the iterative strategy — the union-find
    // path would otherwise absorb any graph this size
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs, "doc_a", "doc_b", maxRounds = 12, smallGraphEdges = 0)
      .as[(Long, Long)].collect()
    assert(got.length == n + 1 && got.forall(_._2 == 0L))
  }

  test("dedupClusters throws rather than return unconverged labels") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](
      Dedup.dedupClusters(pairs, "doc_a", "doc_b", maxRounds = 0, smallGraphEdges = 0))
    assert(e.getMessage.contains("still changing"))
  }

  test("dedupClusters union-find and label-propagation strategies agree") {
    // a mix of cliques, a path, and singleton-free isolated edges, with a
    // seeded shuffle so edge order exercises arbitrary union orders
    val rnd = new scala.util.Random(42)
    val edges = rnd.shuffle(
      (0 until 30).map(i => (i.toLong, (i + 1).toLong)) ++            // path
        (for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (b, a)) ++ // clique, reversed
        Seq((200L, 201L), (300L, 301L), (301L, 300L)))                // dup/iso edges
    val pairs = edges.toDF("doc_a", "doc_b")
    val small = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val large = Dedup.dedupClusters(pairs, "doc_a", "doc_b", smallGraphEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(small == large)
    assert(small(30L) == 0L && small(104L) == 100L && small(201L) == 200L)
  }

  test("vocabCoverage: ranks by (count desc, token), cum_frac reaches 1.0 at full vocab") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a b d")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", k = 10)
      .select("rank", "token", "cnt", "cum_frac")
      .as[(Int, String, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1, "a", 4L), (2, "b", 3L), (3, "c", 1L), (4, "d", 1L)))
    assert(math.abs(got.last._4 - 1.0) < 1e-12) // full vocab covers everything
    assert(math.abs(got.head._4 - 4.0 / 9.0) < 1e-12)
    // k truncates below the full vocabulary
    assert(TextAnalysis.vocabCoverage(docs, "text", k = 2).count() == 2L)
  }

  test("oovFraction: tokens outside the top-k vocab count as OOV, per doc") {
    val docs = Seq(
      (1L, "a a b b"),            // all in a 2-token vocab
      (2L, "a rare1 rare2 rare3") // 3 of 4 outside it
    ).toDF("doc_id", "text")
    val got = TextAnalysis.oovFraction(docs, "doc_id", "text", vocabK = 2)
      .select("doc_id", "n_tokens", "n_oov", "oov_frac")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 4L, 0L, 0.0)))
    assert(got(1)._3 == 3L && math.abs(got(1)._4 - 0.75) < 1e-12)
  }

  test("substringDupStats finds cross-doc and within-doc repeated windows") {
    val docs = Seq(
      (1L, "a b c d e x1 x2 x3"),   // window "a b c" shared with doc 2
      (2L, "z1 a b c z2 z3 z4"),
      (3L, "r r r r s1 s2"),        // within-doc repeat: "r r r" at pos 1 and 2
      (4L, "u1 u2 u3 u4 u5 u6"),    // all unique
      (5L, "short doc")             // < windowTokens: excluded
    ).toDF("doc_id", "text")
    val got = TextAnalysis.substringDupStats(docs, "doc_id", "text", windowTokens = 3)
      .select("doc_id", "n_windows", "n_dup_windows", "first_dup_pos", "dup_frac")
      .as[(Long, Long, Long, Int, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L)) // doc 5 has no windows
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 == 1L && byId(1L)._4 == 1)      // "a b c" at pos 1
    assert(byId(2L)._3 == 1L && byId(2L)._4 == 2)      // "a b c" at pos 2
    assert(byId(3L)._3 == 2L && byId(3L)._4 == 1)      // "r r r" twice, first at 1
    assert(byId(4L)._3 == 0L && byId(4L)._4 == 0 && byId(4L)._5 == 0.0)
    assert(byId(1L)._2 == 6L && math.abs(byId(1L)._5 - 1.0 / 6.0) < 1e-12)
  }

  test("removeDupWindowSpans cuts non-first duplicate windows, rebuilds text in order") {
    val docs = Seq(
      (1L, "a b c x1 x2"),        // "a b c" first occurrence (doc 1, pos 1) survives
      (2L, "y1 a b c y2"),        // duplicate at (2,2): tokens 2,3,4 removed
      (3L, "u1 u2 u3 u4"),        // untouched
      (4L, "r r r r")             // within-doc: "r r r" at pos 2 removed -> covers 2,3,4
    ).toDF("doc_id", "text")
    val got = TextAnalysis.removeDupWindowSpans(docs, "doc_id", "text", windowTokens = 3)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 5L, 0L, "a b c x1 x2")))
    assert(got(2L) == ((2L, 5L, 3L, "y1 y2")))
    assert(got(3L) == ((3L, 4L, 0L, "u1 u2 u3 u4")))
    // greedy overlap: kept first window spans 1-3, removed occurrence at 2
    // blanks 2,3,4 -> only token 1 survives
    assert(got(4L) == ((4L, 4L, 3L, "r")))
  }

  test("unigramFreqScore: integer-sum mean corpus frequency per doc") {
    val docs = Seq(
      (1L, "the the cat"),  // corpus: the=3, cat=2, rare=1 -> total 6
      (2L, "the cat rare")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramFreqScore(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "sum_cnt", "avg_unigram_freq")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 3L, 8L, 8.0 / 18.0)))  // 3+3+2 over 3*6
    assert(got(1) == ((2L, 3L, 6L, 6.0 / 18.0)))  // 3+2+1 over 3*6
  }

  test("dedupClusters frees intermediate checkpoint blocks (bounded live set)") {
    // the long-path graph runs ~7 pointer-jumping rounds; without per-round
    // frees every round's localCheckpoint RDD stays persisted for the
    // session lifetime (clearCache does not touch them)
    val n = 40
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.dedupClusters(pairs, "doc_a", "doc_b", maxRounds = 12, smallGraphEdges = 0).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"expected at most the final round's checkpoint to stay persisted, got ${after - before}")
  }

  test("BPE trainer learns the classic merges; encode reproduces training segmentation") {
    import graft.ops.Bpe
    // 'lo' is the most frequent pair (low×3 + lower×2 + lowest×1 = 6), then
    // 'low' (same mass), then 'e s' from lowest + newest, ...
    val docs = Seq((1L, "low low low lower lower lowest newest")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 4)
    assert(merges.take(2) == Seq(("l", "o"), ("lo", "w")),
      s"expected lo,low as the first merges, got $merges")
    // encoding a training word must reproduce its trained segmentation:
    // with enough merges the most frequent word collapses to ONE token
    val full = Bpe.train(docs, "text", numMerges = 50)
    val enc = Bpe.encodeTokens(full)(TextAnalysis.tokens(col("text")))
    val toks = docs.select(enc).as[Seq[String]].head()
    assert(toks.take(3) == Seq("low", "low", "low"))
    // subword concatenation reconstructs every word (lossless segmentation)
    val words = "low low low lower lower lowest newest".split(" ")
    val few = Bpe.train(docs, "text", numMerges = 2)
    val encFew = docs.select(Bpe.encodeTokens(few)(TextAnalysis.tokens(col("text"))))
      .as[Seq[String]].head()
    assert(encFew.mkString("") == words.mkString(""))
    // determinism: identical data → identical merges
    assert(Bpe.train(docs, "text", numMerges = 4) == merges)
    // non-BMP characters split by CODE POINT: a UTF-16-unit split would
    // leave lone surrogate halves that collapse to replacement bytes
    val emoji = Seq((1L, "x\uD83D\uDE00y x\uD83D\uDE01y")).toDF("doc_id", "text")
    val etoks = emoji.select(Bpe.encodeTokens(Seq.empty)(TextAnalysis.tokens(col("text"))))
      .as[Seq[String]].head()
    assert(etoks.toSet == Set("x", "y", "\uD83D\uDE00", "\uD83D\uDE01"),
      s"surrogate pairs must stay whole code points, got $etoks")
    // learned merges are UNIQUE whatever re-forms during training
    assert(full.distinct == full, "duplicate merge learned")
    // more merges never increase token count (compression monotonicity)
    val n2 = docs.select(Bpe.tokenCount(few)(col("text"))).as[Int].head()
    val n50 = docs.select(Bpe.tokenCount(full)(col("text"))).as[Int].head()
    assert(n50 <= n2)
    // trainer stops gracefully when pairs are exhausted (single-char words)
    val tiny = Seq((1L, "a b a")).toDF("doc_id", "text")
    assert(Bpe.train(tiny, "text", numMerges = 10).isEmpty)
    // null ELEMENTS inside the token array are skipped, not NPE'd — the
    // public array<string> contract admits them even though
    // TextAnalysis.tokens never emits one
    val nullToks = Seq(Tuple1(Seq[String]("low", null, "low"))).toDF("toks")
    val encNull = nullToks.select(Bpe.encodeTokens(full)(col("toks"))).as[Seq[String]].head()
    assert(encNull == Seq("low", "low"))
  }

  test("BPE trainer driver collect is bounded: minFreq/maxWords prune the heavy tail") {
    import graft.ops.Bpe
    // synthetic heavy-tail corpus: a head vocabulary that dominates pair
    // mass + a long hapax tail (unique junk words, the web-scale shape).
    // Pruning the tail must leave the learned merges IDENTICAL, because
    // the tail words are exactly the ones that cannot win a merge.
    // head pair mass (>= 4000 per winning pair) must dominate the tail's
    // aggregate shared-prefix mass (300 occurrences of (z,q)) — the prune
    // is mass-safe, not magic: it assumes the tail is the frequency tail
    val head = Seq.fill(2000)("low lower lowest").mkString(" ")
    val tail = (0 until 300).map(i => s"zq${i}x${i % 7}").mkString(" ")
    val docs = Seq((1L, s"$head $tail")).toDF("doc_id", "text")
    val full = Bpe.train(docs, "text", numMerges = 6)
    val prunedFreq = Bpe.train(docs, "text", numMerges = 6, minFreq = 2L)
    assert(prunedFreq == full,
      s"minFreq prune changed covered-vocab merges: $prunedFreq vs $full")
    val prunedTopN = Bpe.train(docs, "text", numMerges = 6, maxWords = 3)
    assert(prunedTopN == full,
      s"maxWords prune changed covered-vocab merges: $prunedTopN vs $full")
    // and the plan the collect runs is a bounded top-N, never a full sort
    val wfPlan = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2L)
      .orderBy(col("n").desc, col("w").asc).limit(100)
      .queryExecution.executedPlan.toString
    assert(wfPlan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$wfPlan")
  }

  test("bigrams: adjacent pairs in order; 0- and 1-token docs yield empty, never descend") {
    val got = Seq("a b c d", "solo", "", "  x  y ")
      .toDF("t").select(TextAnalysis.bigrams(TextAnalysis.tokens(col("t"))))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("a b", "b c", "c d"), Seq(), Seq(), Seq("x y")))
  }

  test("bigramLmScore: corpus-wide transition counts, novel bigrams, exact mean") {
    val docs = Seq(
      (1L, "the cat sat"),          // "the cat" ×2 corpus-wide, "cat sat" novel
      (2L, "the cat ran"),
      (3L, "one")                   // <2 tokens → no output row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    // doc 1: bigrams {the cat (cnt 2), cat sat (cnt 1)} → sum 3, novel 1
    assert(got(0) == ((1L, 2L, 3L, 1L, 1.5)))
    assert(got(1) == ((2L, 2L, 3L, 1L, 1.5)))
  }

  test("c4Filters: line-structure and word-shape rules fire per constructed doc") {
    val good = ((1 to 60).map(i => s"word$i").mkString(" ") + ".") // 60 words, ends '.'
    val docs = Seq(
      (1L, good),                                     // one line, terminal punct
      (2L, "- bullet one\n- bullet two\nshort"),      // all-bullet-ish, short doc
      (3L, "trailing off...\nand more…"),             // ellipsis lines
      (4L, "")                                        // empty text
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Filters(docs, "doc_id", "text")
      .select("doc_id", "n_lines", "n_words", "n_end_punct_lines", "n_bullet_lines",
        "n_ellipsis_lines", "n_short_lines", "gopher_pass", "c4_terminal_punct_pass")
      .as[(Long, Int, Int, Int, Int, Int, Int, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1, 60, 1, 0, 0, 0, true, true)))
    assert(got(2L)._5 == 2 && !got(2L)._8, "bullet lines counted; gopher fails (<50 words)")
    // '...' also ends in '.', so exactly half the lines terminal-punct → passes at the boundary
    assert(got(3L)._6 == 2 && got(3L)._4 == 1 && got(3L)._9,
      "both ellipsis spellings counted; '…' line lacks terminal punct")
    assert(got(4L)._3 == 0 && !got(4L)._8, "empty text: zero words, fails")
    // NULL text → NULL metrics (the tokenCount discipline): the legacy
    // size(null) = -1 must never leak into a count column
    val nullRow = TextAnalysis.c4Filters(
        Seq((9L, null: String)).toDF("doc_id", "text"), "doc_id", "text")
      .select("n_lines", "n_words", "n_alpha_words", "gopher_pass").head()
    assert((0 to 3).forall(nullRow.isNullAt), s"NULL text must yield NULL metrics: $nullRow")
  }

  test("c4FiltersFast kernel == c4Filters expression spec, incl. Java-regex $ corners") {
    // the fused kernel must replicate java.util.regex exactly: `$` also
    // matches BEFORE one final line terminator (\r, NEL, LS, PS), word
    // length is code points (surrogate pair = 1), \s is the ASCII class
    val edge = Seq(
      (100101L, "ends with dot.\r\nwindows line.\r"),        // CRLF: ".\r" lines still end-punct
      (100102L, "ellipsis then cr...\rplain..."),            // "...\r" and "..."
      (100103L, "a\u2026\u2028\nb\u2026\u2029\nc\u2026\u0085\nd.\u2028"), // \u2026 and . before LS/PS/NEL final terminators
      (100104L, "- bullet\n-nospace\n• dot bullet\n* star "),
      (100105L, "\ttab  split\u000bvtab\fformfeed one two three"),
      (100106L, "emoji 😀😀 counts two chars per word?"),
      (100107L, "\n\n\n"),                                   // empty lines only
      (100108L, ""), (100109L, "…"), (100110L, "."), (100111L, ".\r"), (100112L, "..\r"),
      (100113L, "a.. . "), (100114L, "?\"!."), (100115L, "x…\r"), (100116L, "...\r"),
      (100117L, "word"), (100118L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val real = Tables.load(spark, sf0001, "documents").limit(200)
      .select($"doc_id", $"text")
    val d = real.unionByName(edge)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    val spec = rows(graft.ops.TextAnalysis.c4Filters(d, "doc_id", "text"))
    val fast = rows(graft.ops.TextAnalysis.c4FiltersFast(d, "doc_id", "text"))
    assert(fast.length == spec.length)
    fast.zip(spec).foreach { case (f, s) => assert(f == s, s"mismatch:\nfast=$f\nspec=$s") }
    // schemas (types included) must also agree for the hash gate
    assert(graft.ops.TextAnalysis.c4FiltersFast(d, "doc_id", "text").schema ==
      graft.ops.TextAnalysis.c4Filters(d, "doc_id", "text").schema)
  }

  test("knBigramProbs: hand-computed Kneser-Ney with D=3/4; full-vocab mass sums to 1") {
    import spark.implicits._
    // "a b a b a c": c(ab)=2, c(ba)=2, c(ac)=1; c(a·)=3, N1+(a·)=2;
    // c(b·)=2, N1+(b·)=1; N1+(·a)=N1+(·b)=N1+(·c)=1; N1+(··)=3
    val docs = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.knBigramProbs(docs, "doc_id", "text")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("a", "b")) === ((2L, 21.0 / 36.0)))
    assert(got(("a", "c")) === ((1L, 9.0 / 36.0)))
    assert(got(("b", "a")) === ((2L, 18.0 / 24.0)))
    // interpolated KN sums to 1 over the FULL vocab per head: observed
    // mass + lambda(x)*(unobserved continuation mass). For x=a the
    // unobserved continuation is {a} with P_cont = 1/3, lambda(a) = 1/2:
    // 21/36 + 9/36 + (1/2)(1/3) = 1
    assert(math.abs(got(("a", "b"))._2 + got(("a", "c"))._2 + 0.5 / 3.0 - 1.0) < 1e-15)
  }

  test("docSurprisal: hand-computed bigram head/transition counts; short docs drop") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // corpus bigrams: "a b"×3, "b a"×1, "b c"×1; heads: a→3, b→2
    // d1 terms: 10⁶·3/3, 10⁶·2/1, 10⁶·3/3 → mean 4e6/3
    // d2 terms: 10⁶·3/3, 10⁶·2/1 → mean 1.5e6
    val got = graft.ops.TextAnalysis.docSurprisal(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 3L, 4000000.0 / 3.0),
      (2L, 2L, 1500000.0)))
  }

  test("invertedIndexHead: df/cf exact, posting prefix ordered and bounded") {
    val docs = Seq(
      (3L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "apple banana"),
      (4L, "date")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.invertedIndexHead(docs, "doc_id", "text", k = 2, postingN = 2)
      .as[(String, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // apple: df 3, cf 4 (doubled in doc 3); prefix = first 2 doc ids ascending
    assert(got("apple") == (("apple", 3L, 4L, "1,2")))
    assert(got("banana") == (("banana", 2L, 2L, "2,3")))
    assert(got.size == 2, "k=2 keeps only the top tokens (cherry/date out)")
  }

  test("lengthBucketPadding: boundary lengths, truncation at the max cap, exact pad counts") {
    val lens = Seq(1, 32, 33, 64, 100, 500).toDF("len") // 500 truncates to 256
    val got = graft.ops.TextAnalysis
      .lengthBucketPadding(lens, col("len"), Seq(32, 64, 128, 256))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // len == cap sits in that cap with zero pad for the exact fit
    assert(got(32) == ((32, 2L, 33L, 31L)))   // 1 and 32 → pads 31 + 0
    assert(got(64) == ((64, 2L, 97L, 31L)))   // 33 and 64 → pads 31 + 0
    assert(got(128) == ((128, 1L, 100L, 28L)))
    // truncated sequence: effective len clamps to 256, so padding is 0,
    // never negative
    assert(got(256) == ((256, 1L, 256L, 0L)))
    val totalPad = got.values.map(_._4).sum
    val baselinePad = 256L * 6 - got.values.map(_._3).sum
    assert(totalPad < baselinePad, "bucketing must beat the one-bucket baseline")
  }
  // ---- sparseCosinePairs ----

  test("sparseCosinePairs: identical docs hit cosine 1; a tf-scaled copy ALSO hits 1 (multiset, not set, semantics)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "red fox jumps over dog"),
      (2L, "red fox jumps over dog"),
      // doc 3 = doc 1 repeated twice: every tf doubles → cosine with 1 is exactly 1
      (3L, "red fox jumps over dog red fox jumps over dog"),
      (4L, "entirely different words here now")).toDF("doc_id", "text")
    val got = TextAnalysis.sparseCosinePairs(docs, "doc_id", "text",
        thrNum = 99, thrDen = 100, maxDf = 10, shingleN = 1)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("sparseCosinePairs: threshold boundary is EXACT — cos == num/den passes, just-below fails") {
    import spark.implicits._
    // a=(1,1,1,1) b=(1,1,1,0)-ish via tokens: dot=3, na=4, nb=3 → cos²=9/12=3/4
    // num/den = 86/100: num²·na·nb = 7396·12 = 88752 > den²·dot² = 90000? compare directly:
    // cos = 3/sqrt(12) = 0.8660…; at 86/100 it passes iff 100²·9 ≥ 86²·12 → 90000 ≥ 88752 ✓
    // at 87/100: 90000 ≥ 90828 ✗
    val docs = Seq((1L, "w x y z"), (2L, "w x y")).toDF("doc_id", "text")
    def pairs(num: Int) = TextAnalysis.sparseCosinePairs(docs, "doc_id", "text",
      thrNum = num, thrDen = 100, maxDf = 5, shingleN = 1).count()
    assert(pairs(86) === 1L)
    assert(pairs(87) === 0L)
  }

  test("sparseCosinePairs: pairs sharing ONLY hot (df > maxDf) features are not generated — the documented cap contract") {
    import spark.implicits._
    // 'hot' appears in every doc (df=4 > maxDf=3); docs 1,2 share ONLY it
    val docs = Seq((1L, "hot aaa"), (2L, "hot bbb"),
      (3L, "hot ccc shared"), (4L, "hot ddd shared")).toDF("doc_id", "text")
    val got = TextAnalysis.sparseCosinePairs(docs, "doc_id", "text",
        thrNum = 1, thrDen = 10, maxDf = 3, shingleN = 1)
      .as[(Long, Long, Long, Long, Long)].collect()
    val pairSet = got.map(r => (r._1, r._2)).toSet
    assert(!pairSet.contains((1L, 2L)), "hot-only pair must not be generated")
    assert(pairSet.contains((3L, 4L)), "'shared' (df=2) generates the pair")
    // but the verify dot over a GENERATED pair counts hot features too
    val d34 = got.find(r => (r._1, r._2) == ((3L, 4L))).get._3
    assert(d34 === 2L) // hot·hot + shared·shared
  }
  test("mixByEpochs: full copies exact, partial epoch ~fraction, zero drops, copies are epoch-tagged") {
    import spark.implicits._
    val docs = (0 until 1000).map(i => (i.toLong, if (i < 500) "a" else "b")).toDF("doc_id", "source")
    val out = Sampling.mixByEpochs(docs, col("doc_id"), col("source"),
      Map("a" -> 250, "b" -> 0)).groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n")).as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out(("a", 0)) === 500L && out(("a", 1)) === 500L) // 2 full epochs exact
    val partial = out(("a", 2))
    assert(partial > 200 && partial < 300, s"~50% partial epoch, got $partial")
    assert(!out.keySet.exists(_._1 == "b"), "0 centiepochs drops the source entirely")
    // deterministic: the same call yields the same partial-slice count
    val again = Sampling.mixByEpochs(docs, col("doc_id"), col("source"),
      Map("a" -> 250, "b" -> 0)).where(col("epoch") === 2).count()
    assert(again === partial)
    // different epoch indices select DIFFERENT partial slices (the hash
    // keys on (doc, epoch)): a 2.5-epoch partial is not a subset replay
    val sliceDocs = Sampling.mixByEpochs(docs, col("doc_id"), col("source"), Map("a" -> 150))
      .where(col("epoch") === 1).select(col("doc_id")).as[Long].collect().toSet
    val slice2 = Sampling.mixByEpochs(docs, col("doc_id"), col("source"), Map("a" -> 250))
      .where(col("epoch") === 2).select(col("doc_id")).as[Long].collect().toSet
    assert(sliceDocs != slice2)
    // the object-level NULL-key contract: NULL-keyed rows keep their FULL
    // epochs but drop from the partial one (concat null-propagates where
    // concat_ws silently skipped the key, sharing one all-or-nothing
    // bucket among every NULL-keyed row)
    val withNullKey = Seq((Option.empty[Long], "a"), (Option.empty[Long], "a"))
      .toDF("doc_id", "source")
    val nullOut = Sampling.mixByEpochs(withNullKey, col("doc_id"), col("source"),
        Map("a" -> 250))
      .groupBy(col("epoch")).agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(nullOut == Map(0 -> 2L, 1 -> 2L),
      s"NULL keys: full epochs kept, partial epoch dropped — got $nullOut")
  }

  test("normalizeText: UAX#15 forms + accent strip — composition, compatibility, idempotence, nulls") {
    import spark.implicits._
    import graft.functions.NormalizeOps
    val rows = Seq(
      (1L, "Cafe\u0301"),            // decomposed e + combining acute
      (2L, "\u00c5ngstr\u00f6m"),   // precomposed
      (3L, "\ufb01n \uff21"),       // fi ligature + fullwidth A (compat)
      (4L, "\u1100\u1161"),         // Hangul jamo pair -> composes to U+AC00
      (5L, "plain ascii"),
      (6L, ""),
      (7L, null.asInstanceOf[String]),
      // supplementary-plane combining mark (U+1E944 Adlam alif lengthener,
      // category Mn, surrogate-encoded): the char-wise Character.getType
      // scan saw two SURROGATEs and stripped nothing \u2014 the documented
      // "NFD -> drop Mn -> NFC" contract must cover astral marks too
      (8L, "a\ud83a\udd44b")).toDF("id", "s")
    val got = rows.select(col("id"), NormalizeOps.nfc(col("s")).as("nfc"),
        NormalizeOps.nfkc(col("s")).as("nfkc"),
        NormalizeOps.stripAccents(col("s")).as("strip"))
      .as[(Long, String, String, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == "Caf\u00e9" && got(1L)._4 == "Cafe")
    assert(got(2L)._2 == "\u00c5ngstr\u00f6m" && got(2L)._4 == "Angstrom")
    // NFC leaves compatibility chars; NFKC folds them; strip does not touch them
    assert(got(3L)._2 == "\ufb01n \uff21" && got(3L)._3 == "fin A" && got(3L)._4 == "\ufb01n \uff21")
    assert(got(4L)._2 == "\uac00", "jamo compose under NFC")
    assert(got(5L)._2 == "plain ascii" && got(5L)._4 == "plain ascii")
    assert(got(6L)._2 == "" && got(7L)._2 == null, "empty identity, null propagates")
    assert(got(8L)._4 == "ab",
      s"an astral Mn mark must strip like a BMP one, got '${got(8L)._4}'")
    // idempotence: normalize twice == once (NFC over already-NFC output)
    val twice = rows.where(col("s").isNotNull)
      .select(NormalizeOps.nfc(NormalizeOps.nfc(col("s"))).as("a"),
        NormalizeOps.nfc(col("s")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(twice == 0L)
  }

  test("collocationsByLift: hand-computed lifts, support cut, deterministic head") {
    import spark.implicits._
    // corpus: "x y" 3 times, "x z" 2 times, "w w" 5 times
    // N=20 tokens, B=10 bigrams; c(x)=5 c(y)=3 c(z)=2 c(w)=10
    val docs = (Seq.fill(3)("x y") ++ Seq.fill(2)("x z") ++ Seq.fill(5)("w w"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.collocationsByLift(docs, "text",
        minSupport = 2L, topK = 10)
      .as[(String, Long, Long, Long, Double)].collect()
    val m = got.map(r => r._1 -> r).toMap
    assert(m("x y") === (("x y", 3L, 5L, 3L, 3.0 * 20 * 20 / (10.0 * 5 * 3))))
    assert(m("x z") === (("x z", 2L, 5L, 2L, 2.0 * 20 * 20 / (10.0 * 5 * 2))))
    assert(m("w w") === (("w w", 5L, 10L, 10L, 5.0 * 20 * 20 / (10.0 * 10 * 10))))
    // ranking: x y and x z TIE at lift 8.0 -> bigram asc breaks it; w w 2.0
    assert(got.map(_._1).toSeq === Seq("x y", "x z", "w w"))
    // support cut: minSupport=4 keeps only "w w"
    val cut = graft.ops.TextAnalysis.collocationsByLift(docs, "text",
        minSupport = 4L, topK = 10).as[(String, Long, Long, Long, Double)].collect()
    assert(cut.map(_._1).toSeq === Seq("w w"))
  }

  test("rakeKeywords: hand-computed deg/freq scores, stopword-run splitting, edge stripping") {
    import spark.implicits._
    val docs = Seq((1L, "x y the z"), (2L, "x the w w"), (3L, "the x a")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.rakeKeywords(docs, "text", Seq("a", "the"), topK = 10)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // phrases: "x y","z" | "x","w w" | "x"  (edge stopwords stripped)
    // word stats (with multiplicity): x deg=2+1+1=4 freq=3 -> 1333333
    //   y 2/1 -> 2000000 ; z 1/1 -> 1000000 ; w (2+2)/2 -> 2000000
    assert(got("x y") === (("x y", 2L, 1L, 1333333L + 2000000L)))
    assert(got("z") === (("z", 1L, 1L, 1000000L)))
    assert(got("x") === (("x", 1L, 2L, 1333333L)))
    assert(got("w w") === (("w w", 2L, 1L, 4000000L)))
    assert(got.size === 4)
    // consecutive stopword runs collapse: "p a a the q" -> phrases p, q
    val runs = graft.ops.TextAnalysis.rakeKeywords(
        Seq((1L, "p a a the q")).toDF("doc_id", "text"), "text", Seq("a", "the"), 10)
      .as[(String, Long, Long, Long)].collect().map(_._1).toSet
    assert(runs === Set("p", "q"))
  }

  test("ngramNovelty: first doc fully novel, exact copy 0, partial overlap exact fraction, short doc NULL") {
    val docs = Seq(
      (0L, "a b c d e"),        // 3 trigrams, all first-seen here
      (1L, "a b c d e"),        // exact copy: 0 novel
      (2L, "a b c x y z"),      // 'a b c' seen; 'b c x','c x y','x y z' novel -> 3/4
      (3L, "w q")               // < 3 tokens: no shingles, NULL novelty
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.ngramNovelty(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Option[Long])].collect().toList
    assert(got === List(
      (0L, 3L, 3L, Some(1000000L)),
      (1L, 3L, 0L, Some(0L)),
      (2L, 4L, 3L, Some(750000L)),
      (3L, 0L, 0L, None)))
  }
}
