package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sf0001, "embeddings")
  lazy val queries = emb.where($"vec_id" % 50 === 0)

  // the corpus labeled by the fitted centroids, the way the IVF keys route it
  private def kmeansAssign(corpus: org.apache.spark.sql.DataFrame, k: Int, iters: Int) =
    corpus.withColumn("cluster", Similarity.nearestCentroid($"embedding",
      Similarity.kmeansFit(corpus, "vec_id", "embedding", k, iters)))

  // per-subspace codebooks for pqEncode/pqAdcTopK: one kmeansFit per slice
  private def pqTrain(corpus: org.apache.spark.sql.DataFrame, m: Int, ksub: Int,
                      dims: Int, iters: Int): Array[Array[Array[Double]]] = {
    val dsub = dims / m
    (0 until m).map { j =>
      val sub = corpus.select($"vec_id",
        slice($"embedding", j * dsub + 1, dsub).cast("array<float>").as("_sub"))
      Similarity.kmeansFit(sub, "vec_id", "_sub", ksub, iters)
    }.toArray
  }

  test("cosine of a vector with itself is ~1") {
    val v = emb.select(Similarity.cosine($"embedding", $"embedding").as("c")).as[Double].take(20)
    assert(v.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("brute-force top-k returns k ranked neighbors, self excluded, sims descending") {
    val got = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .as[(Long, Int, Long, Double)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.forall(_._2.length == 5))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
      assert(rows.forall(r => r._3 != r._1))
    }
  }

  test("int8 quantization: values bounded, dequantize error within scale/254, zero vector exact") {
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val joined = emb.join(q, "vec_id")
      .select($"vec_id", $"embedding", $"scale",
        transform($"q", v => v.cast("double") * $"scale" / 127).as("deq"),
        array_max(transform($"q", v => abs(v))).as("qmax"))
    val rows = joined.select(
        array_max(zip_with($"embedding".cast("array<double>"), $"deq",
          (a, b) => abs(a - b))).as("maxErr"),
        $"scale", $"qmax")
      .as[(Double, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (maxErr, scale, qmax) =>
      assert(qmax <= 127)
      assert(maxErr <= scale / 254 + 1e-12)
    }
    val zero = Seq((1L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(zero, "vec_id", "embedding")
      .select($"scale", $"q").as[(Double, Seq[Int])].head()
    assert(zq._1 == 0.0 && zq._2.forall(_ == 0))
  }

  test("quantized top-k ranks track full-precision top-k (recall@5 >= 0.8)") {
    val full = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(quant.size == full.size)
    val recall = full.intersect(quant).size.toDouble / full.size
    assert(recall >= 0.8, s"quantized recall $recall")
  }

  test("top-k matches the window formulation when NaN sims exist (zero vector)") {
    import org.apache.spark.sql.expressions.Window
    // a zero vector makes cosine 0/0 = NaN for all its pairs; Spark's sort
    // puts NaN above every double, and the bounded aggregator must agree
    val corpus = emb.limit(20).select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .unionByName(Seq((999L, Seq.fill(64)(0.0))).toDF("vec_id", "embedding"))
    val qs = corpus.where($"vec_id" === 0 || $"vec_id" === 999)
    val got = Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val scored = corpus.select($"vec_id".as("neighbor_id"), $"embedding".as("c_vec"))
      .crossJoin(broadcast(qs.select($"vec_id".as("query_id"), $"embedding".as("q_vec"))))
      .where($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id", Similarity.cosine($"q_vec", $"c_vec").as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id".asc)
    val expected = scored.withColumn("rank", row_number().over(w)).where($"rank" <= 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(got == expected)
    assert(got.exists(_._1 == 999L)) // the NaN-scoring query still returns ranks
  }

  test("fused SRP kernel == expression-composition spec, bit for bit") {
    val fused = Similarity.srpBuckets(emb, "vec_id", "embedding", numTables = 4, planesPerTable = 12)
      .as[(Long, Int, Long)].collect().toSet
    val spec = (0 until 4).map { t =>
      emb.select($"vec_id", lit(t).as("tbl"),
        Similarity.srpBucket($"embedding", 12, t).as("bucket"))
        .as[(Long, Int, Long)].collect().toSet
    }.reduce(_ union _)
    assert(fused == spec)
    assert(fused.size == emb.count() * 4)
  }

  test("two-stage top-k plan: bounded partial aggregation before the exchange, no window") {
    val plan = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk"),
      "map-side bounded top-k must pre-reduce before the shuffle (|Q|·k·partitions rows, not |Q|·|C|)")
    assert(!plan.contains("Window"),
      "a global row_number window would shuffle every scored row")
  }

  test("IVF with nprobe = all clusters is exactly brute force; partial nprobe ~ nprobe/nclusters recall") {
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", "label", 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute) // probing every cluster must reproduce brute force
    val part = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", "label", 5, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the testdata labels are not geometric clusters, so partial-probe recall
    // is ~nprobe/nclusters; assert it's at least in that ballpark
    val recall = (brute intersect part).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("kmeansFit is reproducible, covers the corpus, and keeps empty-cluster centroids") {
    val c1 = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    val c2 = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    assert(c1.length == 8 && c1.forall(_.length == 64))
    // seeds and tie-breaks are exact; the VectorAvg mean sums are
    // partition-order dependent in the LAST ULP (the fit's documented
    // precision), so the reproducibility bound is a tolerance, not bits
    assert(c1.zip(c2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)) } },
      "same data + same params must fit the same centroids (to last-ulp tolerance)")
    // every row routes to a valid cluster id
    val labels = kmeansAssign(emb, k = 8, iters = 2)
      .select($"cluster").as[Int].collect()
    assert(labels.length == emb.count() && labels.forall(l => l >= 0 && l < 8))
    // k > distinct vectors: surplus clusters keep their seed centroid
    // (no NPE / no missing rows), and assignment still covers all rows
    val tiny = emb.limit(3)
    val cTiny = Similarity.kmeansFit(tiny, "vec_id", "embedding", k = 8, iters = 2)
    assert(cTiny.length == 3, "seeds are capped by corpus size via limit(k)")
  }

  test("kmeans-fitted IVF: full-probe == brute force; partial probe beats random routing") {
    val labeled = kmeansAssign(emb, k = 8, iters = 3)
    val qs = labeled.where($"vec_id" % 50 === 0)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfTopK(qs, labeled, "vec_id", "embedding", "cluster", 5, 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "probing every fitted cluster must reproduce brute force")
    val part = Similarity.ivfTopK(qs, labeled, "vec_id", "embedding", "cluster", 5, 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect part).size.toDouble / brute.size
    // fitted geometric clusters at nprobe 2/8 must beat the random-label
    // baseline (~nprobe/k = 0.25) because near neighbors co-cluster
    assert(recall >= 0.3, s"fitted-IVF recall=$recall")
    // the expression-routed fitted path (literal centroids, no routing
    // window/broadcast) is the same operator: full probe == brute force
    val cents = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    val labeledE = emb.withColumn("cluster",
      Similarity.nearestCentroid($"embedding", cents))
    val qsE = labeledE.where($"vec_id" % 50 === 0)
    val fullE = Similarity.ivfTopKFitted(qsE, labeledE, "vec_id", "embedding",
        "cluster", 5, 8, cents)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(fullE == brute, "fitted expression routing at full probe must reproduce brute force")
  }

  test("big-k IVF routing: broadcast-table path is rank-identical to the literal path; centroid side broadcasts") {
    val cents = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    val labeled = emb.withColumn("cluster",
      Similarity.nearestCentroid($"embedding", cents))
    val qs = labeled.where($"vec_id" % 50 === 0)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    for (nprobe <- Seq(2, 4, 8)) {
      val lit = ranks(Similarity.ivfTopKFitted(qs, labeled, "vec_id", "embedding",
        "cluster", 5, nprobe, cents))
      val big = ranks(Similarity.ivfTopKFittedBigK(qs, labeled, "vec_id", "embedding",
        "cluster", 5, nprobe, cents))
      assert(big == lit, s"nprobe=$nprobe: broadcast routing diverged from literal routing")
    }
    // the routing must be broadcast joins (centroid table + probe list),
    // never a shuffle of the corpus side
    val plan = Similarity.ivfTopKFittedBigK(qs, labeled, "vec_id", "embedding",
      "cluster", 5, 2, cents).queryExecution.executedPlan.toString
    val nBcast = plan.split("\n").count(l =>
      l.contains("BroadcastHashJoin") || l.contains("BroadcastNestedLoopJoin"))
    assert(nBcast >= 2,
      s"expected centroid cross-join + probe join to broadcast, got $nBcast broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the corpus side must never shuffle in the routing:\n$plan")
    // the auto-switch ACTUALLY SWITCHES: with > LiteralCentroidMax cells,
    // ivfTopKFitted must return the bigK result AND plan the broadcast
    // routing (2 broadcast joins: centroid table + probe list) — a broken
    // switch would only surface at production cell counts otherwise
    assert(Similarity.LiteralCentroidMax >= 16)
    val manyCents = Array.tabulate(Similarity.LiteralCentroidMax + 6)(j =>
      Array.tabulate(64)(d => if (d == j % 64) 4.0 else 0.05 * ((j + d) % 7)))
    val labeledMany = emb.withColumn("cluster",
      Similarity.nearestCentroid($"embedding", manyCents))
    val qsMany = labeledMany.where($"vec_id" % 50 === 0)
    val viaFitted = Similarity.ivfTopKFitted(qsMany, labeledMany, "vec_id", "embedding",
      "cluster", 5, 3, manyCents)
    val switchPlan = viaFitted.queryExecution.executedPlan.toString
    assert(switchPlan.split("\n").count(l =>
        l.contains("BroadcastHashJoin") || l.contains("BroadcastNestedLoopJoin")) >= 2,
      s"ivfTopKFitted above LiteralCentroidMax must take the broadcast routing:\n$switchPlan")
    assert(ranks(viaFitted) == ranks(Similarity.ivfTopKFittedBigK(qsMany, labeledMany,
      "vec_id", "embedding", "cluster", 5, 3, manyCents)))
  }

  test("big-k IVF probe-broadcast guard: unbounded-Q shuffle path is rank-identical") {
    import Similarity.QueryBatchMode
    val cents = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    val labeled = emb.withColumn("cluster",
      Similarity.nearestCentroid($"embedding", cents))
    val qs = labeled.where($"vec_id" % 10 === 0)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val viaBroadcast = Similarity.ivfTopKFittedBigK(qs, labeled, "vec_id", "embedding",
      "cluster", 5, 3, cents) // AssertBounded default
    val viaShuffle = Similarity.ivfTopKFittedBigK(qs, labeled, "vec_id", "embedding",
      "cluster", 5, 3, cents, QueryBatchMode.Unbounded)
    assert(ranks(viaShuffle) == ranks(viaBroadcast),
      "unbounded-Q shuffle probe join must be result-identical to the broadcast path")
    // the unbounded plan must NOT ship the probe list through the driver:
    // the probe-corpus join is a shuffled hash join, and the only broadcast
    // left is the (Q-independent) centroid table cross-join
    val shufflePlan = viaShuffle.queryExecution.executedPlan.toString
    assert(shufflePlan.contains("ShuffledHashJoin"),
      s"expected a shuffle-hash probe join:\n$shufflePlan")
    assert(shufflePlan.split("\n").count(_.contains("BroadcastHashJoin")) == 0,
      s"the probe list must not broadcast in Unbounded mode:\n$shufflePlan")
    // the front door honors the mode too: ivfTopKFitted with Unbounded must
    // route to the shuffled-probe plan even BELOW LiteralCentroidMax (the
    // literal path broadcasts the probe list by construction, so it cannot
    // serve an unbounded query side) — and stay result-identical
    val viaFront = Similarity.ivfTopKFitted(qs, labeled, "vec_id", "embedding",
      "cluster", 5, 3, cents, QueryBatchMode.Unbounded)
    assert(viaFront.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      "ivfTopKFitted(Unbounded) must take the shuffled-probe routing")
    assert(ranks(viaFront) == ranks(viaBroadcast))
  }

  // corpus with a planted near-dup of every vector: ±2% deterministic per-dim
  // scaling → cos(v, v') ≈ 0.9997, while every natural pair is <= 0.48;
  // planted ids are −id−1 (collision-free with real nonnegative ids)
  private def planted(base: org.apache.spark.sql.DataFrame) = {
    val b = base.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val p = base.select((-$"vec_id" - 1L).as("vec_id"),
      transform($"embedding", (x, i) => x * (lit(1.0) + lit(0.02) * sin($"vec_id" + i))).as("embedding"))
    b.unionByName(p)
  }

  test("SRP near-dup on planted dups: precision 1.0 (vs brute) and recall >= 0.9") {
    val corpus = planted(emb)
    val got = Similarity.embeddingNearDupPairs(corpus, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truth = {
      val a = corpus.select($"vec_id".as("id_a"), $"embedding".as("va"))
      val b = corpus.select($"vec_id".as("id_b"), $"embedding".as("vb"))
      a.crossJoin(b).where($"id_a" < $"id_b")
        .where(Similarity.cosine($"va", $"vb") >= 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(got.subsetOf(truth)) // verify step guarantees precision 1.0
    assert(truth.nonEmpty)
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall of ${truth.size}")
  }

  test("SRP 1-bit multiprobe: candidate set IS the hamming<=1 definition; strict recall gain at equal tables") {
    val corpus = planted(emb)
    def cands(r: Int) = Similarity.srpCandidatePairs(corpus, "vec_id", "embedding",
        numTables = 2, planesPerTable = 20, probeRadius = r)
      .as[(Long, Long)].collect().toSet
    val (c0, c1) = (cands(0), cands(1))
    assert(c0.subsetOf(c1), "radius-1 probing must only ADD candidates")
    // definitional: (a, b) is a radius-1 candidate iff SOME table's bucket
    // ids differ in <= 1 bit — recomputed here from the bucket table itself
    val buckets = Similarity.srpBuckets(corpus, "vec_id", "embedding",
        numTables = 2, planesPerTable = 20)
      .as[(Long, Int, Long)].collect().groupBy(_._2)
    val expected = buckets.values.flatMap { rows =>
      for {
        x <- rows.iterator; y <- rows.iterator
        if x._1 < y._1 && java.lang.Long.bitCount(x._3 ^ y._3) <= 1
      } yield (x._1, y._1)
    }.toSet
    assert(c1 == expected, "probeRadius=1 must equal the hamming<=1 pair set exactly")
    // the emb_srp_recall_mp claim at spec level: at EQUAL tables, radius-1
    // recovers strictly more planted pairs than exact-bucket banding
    // whenever exact banding missed any (it does at 2 weak tables here)
    val plantedPairs = emb.select($"vec_id").as[Long].collect()
      .map(id => (-id - 1L, id)).toSet
    val (r0, r1) = (c0 & plantedPairs, c1 & plantedPairs)
    assert(r0.size < plantedPairs.size, "harness check: weak banding must miss some pairs")
    assert(r1.size > r0.size,
      s"multiprobe must strictly beat exact banding: r0=${r0.size} r1=${r1.size} of ${plantedPairs.size}")
  }

  test("SRP bucket-width cap kills the dense-cluster quadratic corner; a true dup outside the cluster survives") {
    // the round-12 sweep regime: one dense sub-threshold cluster (tight
    // cone around a prototype — co-buckets heavily, fails the 0.9 verify)
    // plus ONE planted exact-dup pair far from it
    val dim = 16
    def cone(id: Long): Array[Double] = {
      val r = new scala.util.Random(id)
      Array.tabulate(dim)(d => (if (d == 0) 10.0 else 0.0) + r.nextGaussian() * 0.4)
    }
    def far(id: Long): Array[Double] =
      Array.tabulate(dim)(d => if (d == dim - 1) -7.0 + id else 0.5 * d)
    val rows = (0L until 400L).map(i => (i, cone(i))) ++
      Seq((1000L, far(0)), (1001L, far(0))) // exact dup pair, distinct ids
    val df = rows.toDF("vec_id", "embedding")
    def candCount(cap: Int) =
      Similarity.srpCandidatePairsCapped(df, "vec_id", "embedding",
        numTables = 4, planesPerTable = 12, probeRadius = 0, dims = dim,
        maxBucketWidth = cap).count()
    val uncapped = candCount(Int.MaxValue)
    val capped = candCount(8)
    assert(uncapped > 10000L, s"the dense cone must co-bucket quadratically (got $uncapped)")
    assert(capped < uncapped / 10, s"the cap must collapse the mega-buckets ($uncapped -> $capped)")
    // the exact-dup pair shares EVERY table; its narrow bucket is untouched
    val found = Similarity.embeddingNearDupPairs(df, "vec_id", "embedding",
        numTables = 4, planesPerTable = 12, threshold = 0.99, probeRadius = 0,
        dims = dim, maxBucketWidth = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((1000L, 1001L)), "the true dup outside the cluster must survive the cap")
    // the monitor names exactly the overflowing (tbl, bucket) cells
    val over = Similarity.srpOversizedBuckets(df, "vec_id", "embedding",
      numTables = 4, planesPerTable = 12, dims = dim, maxBucketWidth = 8)
    assert(over.count() > 0, "the dropped mega-buckets must be observable")
  }

  test("SRP candidate volume grows ~linearly when the corpus doubles (not ~4x)") {
    // the round-1 design (8-bucket tables) was quadratic-in-fact: doubling
    // the corpus ~quadrupled candidates. With 20-bit tables the planted
    // (linear) pairs dominate and junk collisions stay ~N²/2^20.
    val half = planted(emb.where($"vec_id" % 2 === 0))
    val full = planted(emb)
    val cHalf = Similarity.srpCandidatePairs(half, "vec_id", "embedding", 8, 20).count()
    val cFull = Similarity.srpCandidatePairs(full, "vec_id", "embedding", 8, 20).count()
    assert(cHalf > 0)
    assert(cFull <= 3 * cHalf, s"candidates $cHalf -> $cFull: super-linear growth")
  }

  test("semanticDedup drops planted near-dup copies, keeps min-id reps and all singletons") {
    val corpus = planted(emb) // every vector + a cos≈0.9997 copy at -id-1
    val kept = Similarity.semanticDedup(corpus, "vec_id", "embedding")
      .select("vec_id").as[Long].collect().toSet
    val pairs = Similarity.embeddingNearDupPairs(corpus, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val inPair = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val all = corpus.select("vec_id").as[Long].collect().toSet
    // singletons (no near-dup found) all survive
    assert((all diff inPair).subsetOf(kept))
    // every found pair loses its non-min member; exactly one rep per component survives
    val reps = Dedup.dedupClusters(
        pairs.toSeq.toDF("id_a", "id_b"), "id_a", "id_b")
      .select("cluster_rep").as[Long].collect().toSet
    assert(kept == ((all diff inPair) union reps))
    assert(kept.size < all.size, "planted copies must actually be dropped")
  }

  test("centroids are per-dimension means with full dimensionality") {
    val c = Similarity.centroids(emb, "label", "embedding")
    val rows = c.select($"label", $"centroid").as[(Int, Seq[Double])].collect()
    assert(rows.nonEmpty && rows.forall(_._2.length == 64))
    // cross-check one cluster against an independent positional-explode mean
    val (lbl, cent) = rows.head
    val expected = emb.where($"label" === lbl)
      .select(posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"pos").agg(avg($"v").as("m"))
      .orderBy($"pos").select($"m").as[Double].collect()
    cent.zip(expected).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("pqEncode: nearest sub-centroid per subspace, ties to the lowest code") {
    // 4-dim vectors, 2 subspaces; books chosen so v=(1,1) ties codes 0/1
    // in subspace 0 (equidistant) and must pick 0
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(2.0, 2.0)),
      Array(Array(0.0, 0.0), Array(10.0, 10.0)))
    val df = Seq(
      (1L, Seq(1.0f, 1.0f, 9.0f, 9.0f)),   // tie → 0; clearly 1
      (2L, Seq(2.0f, 2.0f, 0.5f, 0.5f)),   // clearly 1; clearly 0
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val got = Similarity.pqEncode(df, "id", "v", books)
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(1L) == Seq(0, 1) && got(2L) == Seq(1, 0) && got(3L) == Seq(0, 0))
  }

  test("pqTrain + ADC top-k track brute force on clustered data (recall@5 >= 0.8)") {
    // PQ is lossy by design, and on near-uniform random vectors the true
    // top-5 are barely separated — no quantizer can rank them. The honest
    // regime (and PQ's actual use case) is clustered data where true
    // neighbors are well separated: 20 planted clusters of SIX jittered
    // copies, so a query's top-5 is exactly its 5 cluster mates — the
    // test demands cluster-level resolution, not sub-jitter ranking
    // (mates sharing one code tie in ADC and the id tie-break would
    // otherwise pick an arbitrary 5-of-9 subset).
    val rnd = new scala.util.Random(42)
    val seeds = Array.fill(20)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (s <- 0 until 20; j <- 0 until 6) yield {
      val v = seeds(s).clone()
      v(j % 16) = v(j % 16) + 0.05f * (j - 3)
      ((s * 6 + j).toLong, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val qs = corpus.where($"vec_id" % 6 === 0)
    val books = pqTrain(corpus, m = 4, ksub = 8, dims = 16, iters = 3)
    assert(books.length == 4 && books.forall(b => b.length == 8 && b.forall(_.length == 4)))
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
    val adc = Similarity.pqAdcTopK(qs, codes, "vec_id", "embedding", books, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = exact.map { case (q, want) =>
      adc.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size }
    assert(recalls.nonEmpty)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean ADC recall@5 $mean < 0.8")
  }

  test("retrieve->re-rank: exact re-rank of a PQ shortlist beats plain PQ top-5 recall") {
    // same planted-cluster regime as the pqTrain test, but with TEN-member
    // clusters: plain PQ top-5 picks an arbitrary 5-of-9 among code-tied
    // mates, while re-ranking a top-9+ shortlist by exact cosine recovers
    // the true top-5 — the measurable value of the second stage
    val rnd = new scala.util.Random(4242)
    val seeds = Array.fill(12)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (s <- 0 until 12; j <- 0 until 10) yield {
      val v = seeds(s).clone()
      v(j % 16) = v(j % 16) + 0.05f * (j - 5)
      ((s * 10 + j).toLong, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val qs = corpus.where($"vec_id" % 10 === 0)
    val books = pqTrain(corpus, m = 4, ksub = 8, dims = 16, iters = 3)
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", books)
    def recallOf(res: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double = {
      val rs = want.map { case (q, w) => res.getOrElse(q, Set.empty).intersect(w).size.toDouble / w.size }
      rs.sum / rs.size
    }
    def toSets(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    val exact = toSets(Similarity.bruteForceTopK(qs, corpus, "vec_id", "embedding", 5))
    val plain = toSets(Similarity.pqAdcTopK(qs, codes, "vec_id", "embedding", books, 5))
    val shortlist = Similarity.pqAdcTopK(qs, codes, "vec_id", "embedding", books, 20)
    val reranked = toSets(Similarity.rerankExact(shortlist, corpus, "vec_id", "embedding", 5))
    val (rPlain, rRerank) = (recallOf(plain, exact), recallOf(reranked, exact))
    assert(rRerank >= rPlain, s"re-rank recall $rRerank < plain PQ recall $rPlain")
    assert(rRerank >= 0.95, s"re-ranked recall@5 $rRerank < 0.95")
  }

  test("ADC distance equals exact squared L2 to the reconstructed (decoded) vector") {
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(2.0, 2.0)),
      Array(Array(1.0, 1.0), Array(5.0, 5.0)))
    val corpus = Seq((10L, Seq(2.0f, 2.0f, 5.0f, 5.0f)), (11L, Seq(0.0f, 0.0f, 1.0f, 1.0f)))
      .toDF("id", "v")
    val qdf = Seq((1L, Seq(1.0f, 0.0f, 2.0f, 2.0f))).toDF("id", "v")
    val codes = Similarity.pqEncode(corpus, "id", "v", books)
    val got = Similarity.pqAdcTopK(qdf, codes, "id", "v", books, 2)
      .select($"neighbor_id", -$"sim").as[(Long, Double)].collect().toMap
    // q=(1,0,2,2); decode(10)=(2,2,5,5): d=1+4+9+9=23; decode(11)=(0,0,1,1): d=1+0+1+1=3
    assert(got == Map(10L -> 23.0, 11L -> 3.0))
  }

  test("knnClassify: planted clusters recover labels; vote tie breaks to the SMALLEST label") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; query 100 sits in cluster A
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(4)(0f); a(axis) = 1f; a((axis + 1) % 4) = eps; a
    }
    val corpus = Seq(
      (0L, v(0, 0.01f), 7), (1L, v(0, 0.02f), 7), (2L, v(0, 0.03f), 7),
      (3L, v(1, 0.01f), 3), (4L, v(1, 0.02f), 3), (5L, v(1, 0.03f), 3),
      (100L, v(0, 0.0f), 7)).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.knnClassify(
        corpus.where($"vec_id" === 100), corpus, "vec_id", "embedding", "label", 3)
      .as[(Long, Int, Long)].collect()
    assert(got.toSeq === Seq((100L, 7, 3L)), "cluster-A query gets label 7 with 3/3 votes")
    // forced 2-2 tie at k=4: labels {7,7,3,3} among top-4 -> smallest label 3 wins
    val tied = graft.ops.Similarity.knnClassify(
        corpus.where($"vec_id" === 100),
        corpus.where($"vec_id".isin(0L, 1L, 3L, 4L)), "vec_id", "embedding", "label", 4)
      .as[(Long, Int, Long)].collect()
    assert(tied.toSeq === Seq((100L, 3, 2L)), "2-2 tie breaks to the smallest label")
    // STRING labels order natively: the old max-over-(votes, −label) form
    // negated the label itself, which nulls/inverts for non-numeric types —
    // a 2-2 "ham"/"spam" tie must pick "ham" (lexicographically smallest)
    val strCorpus = Seq(
      (0L, v(0, 0.01f), "spam"), (1L, v(0, 0.02f), "spam"),
      (3L, v(1, 0.01f), "ham"), (4L, v(1, 0.02f), "ham"),
      (100L, v(0, 0.0f), "spam")).toDF("vec_id", "embedding", "label")
    val strTied = graft.ops.Similarity.knnClassify(
        strCorpus.where($"vec_id" === 100),
        strCorpus.where($"vec_id".isin(0L, 1L, 3L, 4L)), "vec_id", "embedding", "label", 4)
      .as[(Long, String, Long)].collect()
    assert(strTied.toSeq === Seq((100L, "ham", 2L)),
      "a string-label vote tie must break to the lexicographically smallest label")
  }

  test("hardNegatives: positive is nearest same-label, negative nearest other-label; absent class -> NULL") {
    import spark.implicits._
    def v(a: Float, b: Float) = Array(a, b, 0f, 0f)
    // query 100 at (1,0), label 7; corpus: 1 (label 7) closest, 2 (label 3)
    // second, 3 (label 7) third; an all-7 corpus gives NULL negative
    val corpus = Seq(
      (1L, v(1f, 0.01f), 7), (2L, v(1f, 0.1f), 3), (3L, v(1f, 0.2f), 7),
      (100L, v(1f, 0f), 7)).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.hardNegatives(
        corpus.where($"vec_id" === 100), corpus, "vec_id", "embedding", "label", 3)
      .as[(Long, Option[Int], Option[Long], Option[Int], Option[Long])].collect().head
    assert(got === ((100L, Some(1), Some(1L), Some(2), Some(2L))))
    val onlyPos = graft.ops.Similarity.hardNegatives(
        corpus.where($"vec_id" === 100),
        corpus.where($"label" === 7), "vec_id", "embedding", "label", 3)
      .as[(Long, Option[Int], Option[Long], Option[Int], Option[Long])].collect().head
    assert(onlyPos._2 === Some(1) && onlyPos._4 === None && onlyPos._5 === None)
  }

  test("centroidDrift: identical cohorts give cosine 1; orthogonal-axis cohorts give 0; partition invariant") {
    import spark.implicits._
    def v(a: Float, b: Float) = Array(a, b, 0f, 0f)
    // label 1: both cohorts on +x (drift 1); label 2: cohort A on +x, B on +y (drift 0)
    val rows = Seq(
      (0L, v(1f, 0f), 1), (1L, v(2f, 0f), 1), (2L, v(3f, 0f), 1), (3L, v(1f, 0f), 1),
      (10L, v(1f, 0f), 2), (12L, v(2f, 0f), 2), (11L, v(0f, 1f), 2), (13L, v(0f, 3f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.centroidDrift(rows, "vec_id", "embedding", "label",
        pmod(col("vec_id"), lit(2)))
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1) === ((1, 2L, 2L, 1.0)))
    assert(got(2) === ((2, 2L, 2L, 0.0)))
    val again = graft.ops.Similarity.centroidDrift(rows.repartition(7), "vec_id",
        "embedding", "label", pmod(col("vec_id"), lit(2)))
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }
}
