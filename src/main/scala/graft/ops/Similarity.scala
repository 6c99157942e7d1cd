package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ArrayType(FloatType)`).
  *
  * All vector math is higher-order-function expressions (`zip_with` /
  * `aggregate` / `transform`) evaluated in double precision — codegen'd,
  * no UDFs, no driver-side collect. Brute-force top-k is the correctness
  * baseline; IVF (cluster-routed) and random-hyperplane LSH are the scale
  * paths: both turn the all-pairs scan into a bucketed equi-join.
  */
object Similarity {

  /** Dot product in double precision, summed left-to-right. Backed by the
    * codegen'd [[graft.functions.DotProductExpr]] — a higher-order-function
    * formulation (`aggregate(zip_with(...))`) computes the same value but
    * interprets a lambda per element; the custom expression is a primitive
    * loop inside WholeStageCodegen (~20× on 64-dim floats).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dotProduct(a, b)

  /** One-pass cosine similarity (identical arithmetic to dot/(|a||b|)). */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorOps.cosineSim(a, b)

  /** Two-stage top-k over (query_id, neighbor_id, sim) scored rows: the
    * bounded [[graft.functions.TopK]] aggregator does map-side partial
    * aggregation, so the exchange carries ≤ |Q|·k·partitions buffer rows
    * instead of every scored row — the `row_number()` window formulation
    * this replaces shuffled ALL |Q|·|C| scored ids. Rank semantics are
    * identical (strict (sim desc, id asc) total order).
    *
    * ID TYPE CONTRACT (whole ANN family — every entry funnels through
    * here): ids must be INTEGRAL (TopK's buffer encodes them as Long;
    * int ids widen to bigint in the output). A string/UUID-keyed corpus
    * must map ids through a lookup first — checked loudly here instead
    * of failing as an up-cast error deep inside the aggregation plan.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    require(graft.ops.Dedup.isIntegralIdType(scored.schema("neighbor_id").dataType),
      s"ANN ids must be integral (got ${scored.schema("neighbor_id").dataType.simpleString}: " +
        "TopK encodes ids as Long — map string/UUID ids through a lookup first)")
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK(k)(col("sim"), col("neighbor_id")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("_pos", "_s")))
      .select(col("query_id"), (col("_pos") + 1).cast("int").as("rank"),
        col("_s.id").as("neighbor_id"), col("_s.sim").as("sim"))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (self-match excluded), ranked by (similarity desc, id asc).
    *
    * The query side is broadcast (queries << corpus), so the corpus streams
    * through one pass with no shuffle; the per-query top-k is two-stage
    * (see [[topKPerQuery]]), so the only exchange is |Q|·k·partitions
    * pre-reduced buffers. At 100 TB the same plan holds as long as |Q| is
    * bounded; unbounded Q → use [[ivfTopK]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("q_vec"), col("c_vec")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Per-vector symmetric int8 quantization: `q_i = floor(x_i/scale·127 + ½)`
    * with `scale = max|x_i|` — the standard memory-bandwidth lever for
    * billion-vector ANN (4× smaller than float32, and similarity becomes
    * EXACT integer arithmetic, see [[quantizedTopK]]). `floor(·+½)` instead
    * of `round()`: halfway-case conventions differ across engines while
    * floor is IEEE-exact everywhere, so quantized values are deterministic
    * and oracle-portable bit for bit. Zero vectors quantize to zeros.
    *
    * Output: idCol, `q` (array<int>, values in [-127,127]), `scale` double.
    * Linear, no shuffle; the transform lambdas keep this off the codegen
    * hot path, acceptable for a once-per-corpus preprocessing pass.
    */
  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol), col(vecCol).as("_v"),
        array_max(transform(col(vecCol), v => abs(v))).cast("double").as("scale"))
      .select(col(idCol),
        when(col("scale") === 0, transform(col("_v"), _ => lit(0)))
          .otherwise(transform(col("_v"),
            v => floor(v.cast("double") / col("scale") * 127 + 0.5).cast("int")))
          .as("q"),
        col("scale"))

  /** Brute-force top-k over int8-quantized vectors: both sides quantize via
    * [[quantizeInt8]], similarity is the quantized cosine
    * `dot(qa,qb)/(|qa|·|qb|)` — the per-vector scales cancel, so no float
    * payload survives into scoring. Every term is a product/sum of integers
    * ≤ 127² over the vector length: exact in double arithmetic, hence
    * bit-identical across engines — unlike float cosine, the quantized
    * ranking is fully oracle-checkable. Same broadcast-queries /
    * two-stage-top-k plan as [[bruteForceTopK]].
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    // int arrays ride through the double-typed codegen dot kernel: every
    // intermediate (|q_i| ≤ 127, dim-bounded sums ≪ 2^53) is exact
    def qd(df: DataFrame, as: String) =
      quantizeInt8(df, idCol, vecCol)
        .select(col(idCol).as(as), col("q").cast("array<double>").as(s"_${as}_v"))
    val q = qd(queries, "query_id")
    val c = qd(corpus, "neighbor_id")
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_query_id_v"), col("_neighbor_id_v")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Cluster centroids as mean vectors, via the single-pass
    * [[graft.functions.VectorAvg]] typed aggregate: one buffer per cluster
    * shuffles (with map-side partial aggregation), not |C|·dim scalars.
    */
  def centroids(corpus: DataFrame, clusterCol: String, vecCol: String): DataFrame =
    corpus.groupBy(col(clusterCol))
      .agg(graft.functions.VectorAvg(col(vecCol)).as("centroid"))

  /** Lloyd's k-means over an embedding column — the trainer that makes
    * [[ivfTopK]] usable on a fresh corpus (its `clusterCol` contract says
    * "in production: k-means output"; this is that output).
    *
    * Deterministic up to the last ulp of the centroid means:
    *  - seeds are the k vectors with the smallest `(seedKey(id), id)` — a
    *    pseudo-random but reproducible draw, independent of partitioning
    *    (TakeOrdered, never a full sort) — exact. `seedKey` defaults to
    *    xxhash64; pass an engine-portable key (e.g. `md5(id::string)`) when
    *    an external oracle must reproduce the draw;
    *  - assignment is argmax cosine against the current centroids with ties
    *    to the LOWEST centroid id (struct-max over `(sim, −j)`) — exact
    *    given the centroids;
    *  - new centroids are [[graft.functions.VectorAvg]] means — per-cluster
    *    (sums, n) buffers with map-side partial aggregation. Double sums
    *    are partition-order dependent in the last ulp, so cluster means can
    *    differ across runs at that magnitude — irrelevant for routing (the
    *    assignment argmax is robust to ≪ulp centroid wiggle) but the reason
    *    this op is rows-only for the oracle, like every float-embedding op,
    *    and why the SimilaritySpec determinism check uses a tolerance.
    *
    * Scale shape: per iteration exactly ONE distributed job — the
    * assignment is a pure expression (k fused-codegen cosines per row, no
    * shuffle, no crossJoin), and the centroid update is one aggregation
    * whose result (k·dims doubles) collects to the driver to become the
    * next iteration's broadcast literals. This is the textbook distributed
    * Lloyd's layout (centroids are metadata-sized; the corpus never
    * shuffles). Clusters that lose all members keep their previous
    * centroid. `k · iters` stays metadata-sized; the (id, vec) projection
    * is persisted for the fit's `iters + 1` scans and released before
    * returning.
    */
  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int = 5,
                seedKey: Column => Column = xxhash64(_)): Array[Array[Double]] = {
    require(k >= 1 && iters >= 0)
    val proj = corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRows = proj
        .select(col("_id"), col("_v").cast("array<double>").as("_vd"))
        .orderBy(seedKey(col("_id")), col("_id")).limit(k)
        .collect()
      var cents: Array[Array[Double]] =
        seedRows.map(_.getSeq[Double](1).toArray)
      for (_ <- 1 to iters) {
        val assigned = proj.select(
          nearestCentroid(col("_v"), cents).as("_c"), col("_v"))
        val updated = assigned.groupBy(col("_c"))
          .agg(graft.functions.VectorAvg(col("_v")).as("_mean"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        cents = cents.indices.map(j => updated.getOrElse(j, cents(j))).toArray
      }
      cents
    } finally proj.unpersist(blocking = false)
  }

  /** Argmax-cosine centroid id (ties → lowest id) as a pure expression:
    * one fused codegen dot-product per centroid, reduced by struct-max
    * over `(sim, −j)` so no shuffle and no join touch the corpus.
    */
  def nearestCentroid(vec: Column, cents: Array[Array[Double]]): Column = {
    require(cents.nonEmpty)
    val entries = cents.zipWithIndex.map { case (c, j) =>
      struct(cosine(vec, typedlit(c)).as("sim"), lit(-j).as("nj"))
    }
    (-array_max(array(entries.toIndexedSeq: _*)).getField("nj")).cast("int")
  }

  /** IVF-style ANN: route each query to its `nprobe` nearest centroids, then
    * brute-force only within those clusters. The corpus never cross-joins the
    * query set — the join key is the cluster id, so cost is
    * |Q|·nprobe·avgClusterSize. Cluster assignments come from `clusterCol` —
    * either a precomputed label or [[nearestCentroid]] over [[kmeansFit]]'s
    * centroids (the end-to-end fresh-corpus path).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              clusterCol: String, k: Int, nprobe: Int): DataFrame =
    ivfTopKRouted(queries, corpus, idCol, vecCol, clusterCol, k, nprobe,
      centroids(corpus, clusterCol, vecCol))

  /** [[ivfTopK]] routing against ALREADY-KNOWN centroids — the FAISS-style
    * path for a fitted index: [[kmeansFit]]'s centroids are metadata-sized
    * driver values, so the probe selection is a PURE EXPRESSION per query
    * row (k fused cosines + one literal-array sort, like
    * [[nearestCentroid]] generalized to the top nprobe) — no centroid
    * aggregation pass, no centroid broadcast build, no routing window.
    * Probe ranking is (c_sim desc, cluster id asc), the same total order
    * [[ivfTopK]] uses. `cents(j)` must be cluster j's centroid under
    * `clusterCol`'s assignment.
    *
    * Join-shape contract (the one DELIBERATE exception to the "SF-growing
    * sides never broadcast" policy): the probe side broadcasts, and probes
    * grow with the QUERY batch, not the corpus. ANN serving is
    * batch-bounded by construction — the caller controls |Q|, and
    * |Q|·nprobe·(id+vec) must fit a broadcast (~10⁵ queries at 8-dim
    * float; far less at embedding widths). That is the FAISS regime this
    * mirrors: the index (corpus) side is the scale side and never moves,
    * which is exactly what the broadcast buys — re-ranking corpus-side
    * rows in place with NO shuffle of the corpus. A corpus-scale query
    * set (all-pairs semantic join) is a different operator:
    * [[embeddingNearDupPairs]]/[[semanticDedup]] bucket BOTH sides with
    * SRP-LSH instead. Callers with an unbounded query stream should chunk
    * it into bounded batches rather than lift this broadcast.
    */
  def ivfTopKFitted(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, k: Int, nprobe: Int,
                    cents: Array[Array[Double]],
                    batchMode: QueryBatchMode = QueryBatchMode.AssertBounded): DataFrame = {
    require(cents.nonEmpty)
    // a non-default batchMode only changes the probe joins, which exist
    // only on the big-k routing — so an unbounded-Q caller is routed there
    // regardless of cell count (the literal path broadcasts the whole
    // query side by construction and cannot honor Unbounded)
    if (cents.length > LiteralCentroidMax || batchMode != QueryBatchMode.AssertBounded)
      return ivfTopKFittedBigK(queries, corpus, idCol, vecCol, clusterCol, k, nprobe, cents,
        batchMode)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // struct sort key (−sim, j): ascending struct order = sim desc, id asc
    val ranked = array_sort(array(cents.zipWithIndex.toIndexedSeq.map { case (cvec, j) =>
      struct((-cosine(col("q_vec"), typedlit(cvec))).as("ns"), lit(j).as("j"))
    }: _*))
    val probes = q
      .select(col("query_id"), col("q_vec"),
        explode(slice(ranked, 1, nprobe)).as("_p"))
      .select(col("query_id"), col("q_vec"), col("_p.j").as(clusterCol))
    val c = corpus.select(col(clusterCol), col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.join(broadcast(probes), Seq(clusterCol))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("q_vec"), col("c_vec")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Above this cell count [[ivfTopKFitted]] switches from the literal
    * expression ranking (k fused cosines per plan — codegen-resident and
    * jobless at cache-scale k) to the broadcast-table routing of
    * [[ivfTopKFittedBigK]] (plan size O(1) in k). 64 keeps the literal
    * plan under ~200 expression nodes at default dims.
    */
  val LiteralCentroidMax: Int = 64

  /** [[ivfTopKFitted]] routing for LARGE cell counts. At production IVF
    * scale (10⁴–10⁶ cells for a 10⁹–10¹¹-vector corpus) the literal
    * expression ranking builds one struct node per centroid per plan —
    * Catalyst/codegen explosion long before the FAISS-typical √N cell
    * count. Here the fitted centroids become a BROADCAST TABLE instead:
    * the (batch-bounded, see the broadcast contract on [[ivfTopKFitted]])
    * query side cross-joins the centroid relation, and the top-nprobe
    * cells per query are selected with the same bounded two-stage
    * [[graft.functions.TopK]] aggregator the scoring path uses — map-side
    * partials cap the exchange at |Q|·nprobe·partitions buffer rows, never
    * a |Q|·k window sort. The probe list then joins the corpus on the
    * cluster key exactly like [[ivfTopKFitted]]. Probe order is
    * (c_sim desc, cluster asc) — the identical total order — so the two
    * paths are result-identical on the same inputs (hash-asserted by the
    * ann_ivf_bigk key against ann_ivf_fit's oracle, and property-tested
    * in SimilaritySpec).
    */
  def ivfTopKFittedBigK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                        clusterCol: String, k: Int, nprobe: Int,
                        cents: Array[Array[Double]],
                        batchMode: QueryBatchMode = QueryBatchMode.AssertBounded): DataFrame = {
    require(cents.nonEmpty)
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex.map { case (cvec, j) => (j.toLong, cvec) }.toSeq
      .toDF("_cj", "_cvec")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // NaN centroid similarity (a zero/NaN centroid against a real query)
    // must rank BELOW every real cell, matching the literal path's
    // struct-sort (array_sort puts the NaN struct last); TopK's
    // Double.compare order would rank NaN FIRST and probe the degenerate
    // cell ahead of real ones — map it to -Inf so both paths agree
    // (cosine is in [-1,1], so -Inf can never collide with a real sim;
    // ties among degenerate cells break by cluster id in both paths).
    // A NULL cosine (a null vector ELEMENT, which passes isnan as NULL)
    // coalesces to the same -Inf: the literal path's struct array_sort
    // and TopK's comparator disagree on NULL ordering, so both kinds of
    // degenerate cell must land on one value for path equality to hold
    val routed = q.crossJoin(broadcast(centDf))
      .withColumn("_cs", cosine(col("q_vec"), col("_cvec")))
      .select(col("query_id"),
        coalesce(
          when(isnan(col("_cs")), lit(Double.NegativeInfinity)).otherwise(col("_cs")),
          lit(Double.NegativeInfinity)).as("sim"),
        col("_cj").as("neighbor_id"))
    // The probe broadcast carries |Q|·nprobe rows WITH query vectors through
    // the driver — correct only under the batch-bounded-Q serving contract
    // (see [[ivfTopKFitted]]'s broadcast contract). `batchMode` makes that
    // contract explicit: an unbounded-Q caller gets shuffle-hash joins
    // (result-identical, spec'd in SimilaritySpec) rather than a driver OOM.
    val broadcastProbes = batchMode == QueryBatchMode.AssertBounded
    val probeCells = topKPerQuery(routed, nprobe)
      .select(col("query_id"), col("neighbor_id").cast("int").as(clusterCol))
    // the join-back to the query VECTORS is also Q-scale on both sides —
    // in the unbounded regime it must shuffle on query_id, not let the
    // size estimator auto-broadcast either side
    val probes =
      if (broadcastProbes) probeCells.join(q, Seq("query_id"))
      else probeCells.join(q.hint("shuffle_hash"), Seq("query_id"))
    val c = corpus.select(col(clusterCol), col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored =
      (if (broadcastProbes) c.join(broadcast(probes), Seq(clusterCol))
       else c.join(probes.hint("shuffle_hash"), Seq(clusterCol)))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("q_vec"), col("c_vec")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** How [[ivfTopKFittedBigK]] treats the QUERY side's size — the probe
    * list (|Q|·nprobe rows with vectors) broadcasts only when Q is
    * batch-bounded, and nothing about a DataFrame proves that statically.
    */
  sealed trait QueryBatchMode
  object QueryBatchMode {
    /** Caller asserts |Q| is micro-batch-bounded (the FAISS serving
      * regime; the repo's own keys bound Q by construction via
      * annQueryPred). Probe list broadcasts — the plan of rounds ≤ 12,
      * byte-identical.
      */
    case object AssertBounded extends QueryBatchMode

    /** Unbounded / corpus-scale Q: never broadcast; the probe list joins
      * the corpus with a shuffle-hash join on the cluster key (both sides
      * exchange once on the cluster id — the unavoidable shape when Q
      * itself is data-scale).
      */
    case object Unbounded extends QueryBatchMode
  }

  private def ivfTopKRouted(queries: DataFrame, corpus: DataFrame, idCol: String,
                            vecCol: String, clusterCol: String, k: Int, nprobe: Int,
                            cents: DataFrame): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val routed = q.crossJoin(broadcast(cents))
      // NaN → -Inf BEFORE the rank (the ivfTopKFittedBigK guard, applied
      // to this routing path too): Spark sorts NaN as the LARGEST double,
      // so a degenerate cell (zero centroid from failed/empty embeddings
      // → cosine NaN) would otherwise win probe slot 1 for EVERY query —
      // at nprobe=1 every query probes ONLY the junk cell
      .withColumn("c_sim", nanvl(cosine(col("q_vec"), col("centroid")),
        lit(Double.NegativeInfinity)))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("c_sim").desc, col(clusterCol).asc)
    val probes = routed.withColumn("_pr", row_number().over(wr)).where(col("_pr") <= nprobe)
      .select(col("query_id"), col("q_vec"), col(clusterCol))
    val c = corpus.select(col(clusterCol), col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.join(broadcast(probes), Seq(clusterCol))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("q_vec"), col("c_vec")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Random-hyperplane (SRP) LSH bucket id for one hash table: `numPlanes`
    * sign bits of the vector projected onto deterministic md5-derived ±1
    * planes (plane ids are namespaced by table so tables are independent;
    * see [[graft.functions.SrpKernel.planeSign]] for THE plane definition).
    * Same-bucket probability per bit is 1 − θ/π.
    *
    * This expression-composition form (one codegen dot product + `when` per
    * plane, plane vectors as plan-time literal arrays) is the executable
    * SPEC for the fused [[graft.functions.SrpBucketsExpr]] kernel that the
    * pipeline entry points use — bit-for-bit equivalence is property-tested.
    */
  def srpBucket(vec: Column, numPlanes: Int, table: Int = 0, dims: Int = 64): Column = {
    require(numPlanes <= 62, "bucket id is a signed long")
    val bits = (0 until numPlanes).map { p =>
      val plane = typedlit((0 until dims).map(d =>
        graft.functions.SrpKernel.planeSign(table * 1000 + p, d)).toArray)
      when(dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** (id, tbl, bucket) for every table — one row per (doc, table), linear.
    * All `numTables · planesPerTable` projections run in ONE fused kernel
    * pass per row ([[graft.functions.SrpBucketsExpr]]); the composition
    * form builds 160 expression nodes at the defaults and re-reads the
    * vector per plane.
    */
  def srpBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                 numTables: Int, planesPerTable: Int, dims: Int = 64): DataFrame =
    corpus.select(col(idCol),
      posexplode(graft.functions.SrpOps.srpBuckets(col(vecCol), numTables, planesPerTable, dims))
        .as(Seq("tbl", "bucket")))

  /** Distinct SRP candidate pairs (id_a < id_b) before the cosine verify.
    *
    * Scale design (the round-1 weakness this replaces): bucket width IS the
    * candidate bound. With k planes per table the bucket space is 2^k per
    * table; random (dissimilar) docs collide with probability ~2^(−k) per
    * table, so expected junk candidates ≈ L·N²/2^k — pick
    * `planesPerTable ≈ log₂(corpus) + 4` to keep bucket occupancy O(1) and
    * candidate volume ~linear in N (true near-dups collide by design, and
    * they grow linearly). The k=3 default this replaces capped the space at
    * 8 buckets/table: quadratic regardless of corpus size.
    *
    * Recall lost to wider buckets is recovered with 1-bit multiprobe
    * (`probeRadius = 1`): one side of the self-join also emits the k
    * buckets at hamming distance 1, so a pair is a candidate when its
    * bucket ids differ in ≤ 1 bit. Per-table match probability at angle θ
    * (bit-agree p = 1 − θ/π) rises from p^k to p^k + k(1−p)p^(k−1); across
    * L tables, 1−(1−·)^L ≈ 95% at cos 0.9 with the k=20/L=8 defaults of
    * [[embeddingNearDupPairs]], while the probe ball (k+1 buckets of 2^k)
    * keeps junk collisions ~2^(−k±log k).
    */
  def srpCandidatePairs(corpus: DataFrame, idCol: String, vecCol: String,
                        numTables: Int, planesPerTable: Int,
                        probeRadius: Int = 1, dims: Int = 64): DataFrame =
    srpCandidatePairsCapped(corpus, idCol, vecCol, numTables, planesPerTable,
      probeRadius, dims, Int.MaxValue)

  /** [[srpCandidatePairs]] with a bucket-width cap — the 100-TB form, the
    * SRP analog of [[graft.ops.Dedup.lshCandidatePairsCapped]]. The
    * round-12 scale sweep demonstrated the failure mode on live data: a
    * corpus with heavy SUB-threshold semantic clustering (mean
    * within-cluster cos ≈ 0.8 against a 0.9 verify) co-buckets a large
    * fraction of every cluster — candidates go quadratic in cluster size
    * while the verify rejects them all, so the work is pure waste. Real
    * web-embedding corpora have exactly such dense regions. Buckets wider
    * than `maxBucketWidth` are DROPPED from pair generation on every
    * table they overflow (true near-dups collide in SEVERAL independent
    * tables, so narrower tables still recover them; exact dups share all
    * tables and are only lost if every one overflows). The drop is
    * observable via [[srpOversizedBuckets]] — run it alongside and alert,
    * so the cap is an explicit, monitored recall trade instead of a
    * silent quadratic cliff. The width count rides the same (tbl, bucket)
    * partitioning the join needs — no extra shuffle of the bucket table.
    */
  def srpCandidatePairsCapped(corpus: DataFrame, idCol: String, vecCol: String,
                              numTables: Int, planesPerTable: Int,
                              probeRadius: Int, dims: Int,
                              maxBucketWidth: Int): DataFrame = {
    require(probeRadius == 0 || probeRadius == 1, "only 0- or 1-bit multiprobe is supported")
    val buckets = graft.ops.Dedup.capBuckets(
      srpBuckets(corpus, idCol, vecCol, numTables, planesPerTable, dims),
      Seq("tbl", "bucket"), maxBucketWidth)
    val a = buckets.select(col("tbl"), col("bucket"), col(idCol).as("id_a"))
    val probes =
      if (probeRadius == 0) array(col("bucket"))
      else array((col("bucket") +: (0 until planesPerTable)
        .map(p => col("bucket").bitwiseXOR(lit(1L << p)))): _*)
    val b = buckets.select(col("tbl"), explode(probes).as("bucket"), col(idCol).as("id_b"))
    // corpus-sized self-join: sort-merge, never a broadcast (same static-
    // estimator trap and 100-TB argument as Dedup.lshCandidatePairsCapped)
    a.join(b.hint("merge"), Seq("tbl", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The (tbl, bucket, width) rows [[srpCandidatePairsCapped]] drops at the
    * given cap — the monitoring side-output for the recall trade (alert on
    * its count; a sudden rise means the corpus grew a dense semantic
    * region and the cap is now biting).
    */
  def srpOversizedBuckets(corpus: DataFrame, idCol: String, vecCol: String,
                          numTables: Int, planesPerTable: Int, dims: Int,
                          maxBucketWidth: Int): DataFrame =
    srpBuckets(corpus, idCol, vecCol, numTables, planesPerTable, dims)
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("width"))
      .where(col("width") > maxBucketWidth)

  /** Embedding near-dup pairs: multi-table SRP candidates (see
    * [[srpCandidatePairs]] for the banding/scale math) verified by exact
    * cosine >= threshold — precision is exact, every candidate is re-scored.
    * No cross join anywhere; candidates dedupe across tables before the
    * (more expensive) verify join.
    *
    * Defaults target the near-dup regime (threshold ≳ 0.8). LSH is the
    * wrong tool for LOW thresholds: at cos 0.4 the exponent ρ =
    * ln(1/p₁)/ln(1/p₂) ≈ 0.66 makes candidates ~N^1.66 for ANY parameter
    * choice — use [[bruteForceTopK]]/[[ivfTopK]] for that regime instead.
    */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            numTables: Int = 8, planesPerTable: Int = 20,
                            threshold: Double = 0.9, probeRadius: Int = 1,
                            dims: Int = 64,
                            maxBucketWidth: Int = Int.MaxValue): DataFrame = {
    val cand = srpCandidatePairsCapped(corpus, idCol, vecCol, numTables,
      planesPerTable, probeRadius, dims, maxBucketWidth)
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    // candidate pairs and the vector table are both corpus-sized
    cand.join(va.hint("merge"), "id_a").join(vb.hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): documents
    * whose EMBEDDINGS are near-identical are redundant even when their
    * text is not — keep one representative per semantic-duplicate group.
    *
    * Composition of the engine's scale-correct parts: SRP-LSH candidate
    * pairs at a high cosine threshold ([[embeddingNearDupPairs]] — bucketed,
    * ~linear candidate volume, exact-cosine verified), resolved into
    * connected components ([[Dedup.dedupClusters]] — O(log diameter)
    * min-label rounds), min-id representative kept
    * ([[Dedup.applyClusterDedup]] — one anti-join). The paper's k-means
    * partitioning plays the same role as the SRP bucketing here: both bound
    * the pair search to semantically-close groups; SRP needs no iterative
    * fit and its per-table collision math is the documented candidate
    * bound. LSH is only sound in the near-dup regime (threshold ≳ 0.8) —
    * see [[embeddingNearDupPairs]] for why low thresholds go ~N^1.66. The
    * pairs come from [[embeddingNearDupPairs]]'s default layout: 8 tables
    * of 20 planes, cosine ≥ 0.9, no bucket cap.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    dims: Int = 64): DataFrame = {
    val pairs = embeddingNearDupPairs(corpus, idCol, vecCol, dims = dims)
    Dedup.applyClusterDedup(corpus, idCol, Dedup.dedupClusters(pairs, "id_a", "id_b"))
  }

  // ---- product quantization (Jégou et al. 2011) ------------------------
  // The memory-compression regime beyond int8: each vector becomes m small
  // integer codes (one per dim/m-sized subspace), and query↔code distance
  // is m table lookups instead of dim multiplies — the layout behind
  // IVF-PQ/FAISS-scale billion-vector search. Codebooks are metadata-sized
  // (m·ksub·dsub doubles) and always travel as plan-time literals: the
  // corpus never shuffles for encoding or scoring.

  /** PQ encoding: `codes` = for each subspace, the index of the nearest
    * (squared-L2, ties → lowest index) codebook entry. Pure expression —
    * the argmin is a struct-min over ksub codegen dot products per
    * subspace (the common `|a|²` term is dropped: argmin of
    * `−2·a·c + |c|²` is the same minimizer, and `|c|²` is a plan-time
    * constant) — so encoding is a linear scan with no shuffle, exactly the
    * [[nearestCentroid]] layout per subspace.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame = {
    require(books.nonEmpty && books.forall(_.nonEmpty))
    val dsub = books(0)(0).length
    val codeCols = books.zipWithIndex.map { case (cb, j) =>
      val sub = slice(col(vecCol), j * dsub + 1, dsub).cast("array<double>")
      val entries = cb.zipWithIndex.map { case (c, ci) =>
        val cNormSq = c.map(x => x * x).sum
        struct((dot(sub, typedlit(c)) * -2 + lit(cNormSq)).as("d"), lit(ci).as("c"))
      }
      array_min(array(entries.toIndexedSeq: _*)).getField("c")
    }
    corpus.select(col(idCol), array(codeCols.toIndexedSeq: _*).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k: each query precomputes its m×ksub
    * distance table (exact squared L2 from the query's FULL subvectors to
    * every codebook entry — the asymmetry that makes ADC more accurate
    * than code-vs-code), then every corpus row costs m `element_at`
    * lookups + a sum, independent of the vector dimension. Ranked by
    * (ADC distance asc, id asc); `sim` in the output is the NEGATED
    * distance so the shared two-stage [[topKPerQuery]] bounded aggregation
    * applies unchanged — the only exchange is |Q|·k·partitions buffers.
    * Queries broadcast (bounded by contract, as in [[bruteForceTopK]]);
    * the encoded corpus streams one pass.
    */
  def pqAdcTopK(queries: DataFrame, corpusCodes: DataFrame,
                idCol: String, vecCol: String,
                books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val dsub = books(0)(0).length
    val distTable = array(books.zipWithIndex.map { case (cb, j) =>
      val sub = slice(col(vecCol), j * dsub + 1, dsub).cast("array<double>")
      array(cb.toIndexedSeq.map { c =>
        dot(sub, sub) - dot(sub, typedlit(c)) * 2 + lit(c.map(x => x * x).sum)
      }: _*)
    }.toIndexedSeq: _*)
    val q = queries.select(col(idCol).as("query_id"), distTable.as("_tbl"))
    // MATERIALIZE the codes behind a shuffle barrier: the broadcast-
    // nested-loop join's whole-stage codegen evaluates only the join-
    // condition variables before the build loop and defers every other
    // stream-side expression INTO it — a lazily-piped pqEncode would
    // re-run its m·ksub-dot-product argmin once per PAIR instead of once
    // per corpus row (measured 13×: 31 s → 2.4 s at sf0.1). A repartition
    // evaluates the codes into shuffle files (released by the
    // ContextCleaner with the plan — a `.persist` here would leak a
    // CacheManager entry per call with no unpersist path, since the
    // function returns a lazy frame). Materialized codes are also the
    // honest PQ regime: they are the precomputed, stored artifact (m
    // bytes-ish per vector — the whole point of the compression); a
    // production corpus reads them from disk, it never re-encodes per
    // query batch.
    val c = corpusCodes.select(col(idCol).as("neighbor_id"), col("codes").as("_codes"))
      .repartition(col("neighbor_id"))
    // the per-pair score is the hot loop (|Q|·|C| evaluations): m is a
    // plan-time constant, so unroll the lookups into a codegen'd
    // element_at sum — an aggregate(zip_with(...)) lambda here evaluates
    // INTERPRETED per pair and measured ~10× slower at sf0.1
    val adcDist = books.indices.map { j =>
      element_at(element_at(col("_tbl"), j + 1),
        element_at(col("_codes"), j + 1) + 1)
    }.reduce(_ + _)
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (-adcDist).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Exact-cosine re-rank of a candidate pair table — the second stage of
    * the production retrieve→re-rank pattern (coarse PQ/IVF/LSH recall,
    * exact precision on the shortlist). `candidates` carries
    * (query_id, neighbor_id) and is BOUNDED by the first stage's k, so it
    * broadcasts through both vector-lookup joins: the corpus streams once
    * per lookup and never shuffles, and the final top-k is the same
    * bounded [[topKPerQuery]] aggregation as every other ANN tail.
    *
    * PRECONDITION: query vectors resolve FROM THE CORPUS, so `query_id`
    * must be a corpus id — external query ids would match nothing and
    * come back silently empty. Queries that are not corpus rows go
    * through [[rerankExactQueries]].
    */
  def rerankExact(candidates: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame =
    rerankExactQueries(candidates,
      corpus.select(col(idCol), col(vecCol)), corpus, idCol, vecCol, k)

  /** [[rerankExact]] with an EXPLICIT query-vector table — the form for a
    * first stage fed by external queries (pqAdcTopK/ivfTopK over a
    * separate query frame), whose ids the corpus-keyed lookup would
    * silently drop. `queries` is |Q|-bounded like everywhere in this
    * family, so it broadcasts.
    */
  def rerankExactQueries(candidates: DataFrame, queries: DataFrame, corpus: DataFrame,
                         idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv"))
    val withQ = q.join(broadcast(candidates.select(col("query_id"), col("neighbor_id"))),
      "query_id")
    val scored = c.join(broadcast(withQ), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_nv")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Embedding-distribution drift between two cohorts (model/data
    * monitoring: did this week's embeddings move?): per label, the cosine
    * between the two cohorts' centroid directions, computed ENTIRELY in
    * exact integers until one final float expression — embeddings first
    * quantize ([[quantizeInt8]]), per-dimension int sums accumulate per
    * (label, cohort) — cosine of the SUM vector equals cosine of the mean
    * (scale invariance), so no division happens before the final formula.
    * This is drift in QUANTIZED space: a deterministic, hash-portable
    * monitor (the float-centroid form would be partition-order noise).
    *
    * Scale: one posexplode aggregation (corpus → |labels|·2·d cells,
    * map-side combined); everything after runs on the bounded cell table.
    * DECIMAL products guard the Σ s_a·s_b terms past 2⁶³ at corpus n.
    */
  def centroidDrift(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, cohortB: Column): DataFrame = {
    val lab = corpus.select(col(idCol).as("_lid"), col(labelCol).as("label"),
      cohortB.cast("int").as("_coh"))
    val cells = quantizeInt8(corpus, idCol, vecCol)
      .join(lab.hint("merge"), col(idCol) === col("_lid"))
      .select(col("label"), col("_coh"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("_coh"), col("pos"))
      .agg(sum(col("v")).as("s"))
    val a = cells.where(col("_coh") === 0)
      .select(col("label"), col("pos"), col("s").as("sa"))
    val b = cells.where(col("_coh") === 1)
      .select(col("label").as("_lb"), col("pos").as("_pb"), col("s").as("sb"))
    val sums = a.join(b, col("label") === col("_lb") && col("pos") === col("_pb"))
      .groupBy(col("label"))
      .agg(sum(col("sa").cast("decimal(18,0)") * col("sb").cast("decimal(18,0)")).as("_num"),
        sum(col("sa").cast("decimal(18,0)") * col("sa").cast("decimal(18,0)")).as("_na2"),
        sum(col("sb").cast("decimal(18,0)") * col("sb").cast("decimal(18,0)")).as("_nb2"))
    val counts = lab.groupBy(col("label"))
      .agg(sum(when(col("_coh") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_coh") === 1, 1L).otherwise(0L)).as("n_b"))
    counts.join(sums, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        (col("_num").cast("double") /
          (sqrt(col("_na2").cast("double")) * sqrt(col("_nb2").cast("double"))))
          .as("drift_cos"))
  }

  /** Hard-negative mining for contrastive/retrieval training: from each
    * query's exact top-k shortlist, the best-ranked SAME-label neighbor
    * (the positive) and the best-ranked DIFFERENT-label neighbor (the
    * hard negative — the near-miss that carries the gradient). Each pick
    * is one `min(struct(rank, id))` conditional aggregate — no window,
    * NULL when the shortlist has no member of that class (mine deeper k
    * or fall back to random negatives downstream).
    * Output: (query_id, pos_rank, pos_id, neg_rank, neg_id).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val topk = bruteForceTopK(queries, corpus, idCol, vecCol, k)
    val lab = corpus.select(col(idCol).as("_nid"), col(labelCol).as("_nlab"))
    val qlab = queries.select(col(idCol).as("_qid"), col(labelCol).as("_qlab"))
    topk.join(lab.hint("merge"), col("neighbor_id") === col("_nid"))
      .join(qlab.hint("merge"), col("query_id") === col("_qid"))
      .groupBy(col("query_id"))
      .agg(
        min(when(col("_nlab") === col("_qlab"),
          struct(col("rank").as("r"), col("neighbor_id").as("id")))).as("_p"),
        min(when(col("_nlab") =!= col("_qlab"),
          struct(col("rank").as("r"), col("neighbor_id").as("id")))).as("_n"))
      .select(col("query_id"),
        col("_p.r").as("pos_rank"), col("_p.id").as("pos_id"),
        col("_n.r").as("neg_rank"), col("_n.id").as("neg_id"))
  }

  /** kNN classification composed from [[bruteForceTopK]] (the
    * label-propagation serving shape): top-k cosine neighbors per query,
    * majority vote with a fully deterministic tie-break — max votes, then
    * SMALLEST label — folded in ONE `max(struct)` aggregation (no window
    * pass). Output: (query_id, pred_label, votes).
    *
    * Scale: the neighbor-label join and the two vote aggregations are
    * sort-merge/partial-aggregable over the |Q|·k candidate table; the
    * corpus itself only streams through the top-k scan. Bounded-|Q|
    * contract inherited from [[bruteForceTopK]]; swap the first stage for
    * [[ivfTopK]]/[[pqAdcTopK]] shortlists when |Q| is corpus-scale.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    val topk = bruteForceTopK(queries, corpus, idCol, vecCol, k)
    val lab = corpus.select(col(idCol).as("_nid"), col(labelCol).as("_nlab"))
    topk.join(lab.hint("merge"), col("neighbor_id") === col("_nid"))
      .groupBy(col("query_id"), col("_nlab"))
      .agg(count(lit(1)).as("_votes"))
      .groupBy(col("query_id"))
      // min over (−votes, label): most votes first, then the SMALLEST
      // label on ties — comparing the label NATIVELY, so string/UUID
      // labels order correctly (the previous max-over-(votes, −label)
      // form negated the label itself, which nulls out — or inverts the
      // tie — for any non-numeric label type)
      .agg(min(struct((-col("_votes")).as("nv"), col("_nlab").as("lab"))).as("_w"))
      .select(col("query_id"), col("_w.lab").as("pred_label"),
        (-col("_w.nv")).as("votes"))
  }
}
