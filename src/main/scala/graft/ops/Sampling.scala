package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixes.
  *
  * `rand()`-based Bernoulli sampling is irreproducible across runs, engines,
  * and re-partitionings — useless for an auditable corpus mix. Hash-based
  * sampling keys the keep/drop decision on a row's own identity: the same
  * row is in or out forever, the sample is a pure filter (predicate
  * pushdown applies, no shuffle), and the exact definition runs in any
  * engine with md5.
  *
  * NULL keys: md5(NULL) is NULL, so a NULL-keyed row fails every `< pct`
  * comparison and is DROPPED at any rate, including 100% — identically in
  * Spark and the SQL mirror (both engines' NULL comparison semantics
  * agree). Pass a non-null key (concat key parts with a separator, or
  * coalesce) when null-keyed rows must participate.
  */
object Sampling {

  /** Uniform bucket in [0, mod) from the row key — the first 8 md5 hex
    * chars parsed as an integer (engine-portable). The ONE definition of
    * the md5/conv recipe — percent sampling (mod 100) and feature hashing
    * (mod dim) both delegate here so the engine-portability-critical arithmetic can
    * never diverge between them.
    */
  def hashBucketMod(key: Column, mod: Long): Column =
    bucketFromMd5(md5(key.cast("string")), mod)

  /** The recipe over an ALREADY-computed md5 hex column — for passes that
    * project the digest once and read several slices of it.
    */
  def bucketFromMd5(h: Column, mod: Long): Column =
    pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(mod))

  /** Uniform bucket in [0, 100) from the row key. */
  def hashBucket(key: Column): Column = hashBucketMod(key, 100L)

  /** Stratified deterministic sampling: per-stratum keep rates (percent),
    * rows in unlisted strata dropped. One pass, pure filter.
    */
  def stratifiedSampleByHash(df: DataFrame, stratum: Column, key: Column,
                             pctByStratum: Map[String, Int]): DataFrame = {
    require(pctByStratum.values.forall(p => p >= 0 && p <= 100))
    val pct = pctByStratum.foldLeft(lit(0)) { case (acc, (s, p)) =>
      when(stratum === lit(s), lit(p)).otherwise(acc)
    }
    df.where(hashBucket(key) < pct)
  }

  /** Deterministic k-per-group sample — "show me k examples from every
    * source", the inspection/debugging primitive that replaces
    * `ORDER BY rand() LIMIT k` loops at corpus scale. Rows are ranked
    * inside each group by `(md5(key), key)` — a uniform, engine-portable
    * shuffle of the group (the same portable seed draw k-means uses for
    * its centroid seeds) — and the first k survive. One shuffle (the
    * window partition); output is bounded by k·|groups| regardless of SF,
    * and the choice is stable across runs, partitionings, and engines
    * (no `rand()`, no `TABLESAMPLE`). NULL keys sort after all md5 hex
    * strings (nulls last) so they are only drawn from groups with fewer
    * than k non-null keys.
    */
  def groupSample(df: DataFrame, group: Column, key: Column, k: Int): DataFrame = {
    require(k > 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(group)
      .orderBy(md5(key.cast("string")).asc_nulls_last, key.asc_nulls_last)
    // fresh helper name: a hardcoded "_rk" would OVERWRITE a user column
    // of that name and then drop it — silent data loss (the freshNames
    // convention the other window helpers follow)
    val Seq(rk) = graft.ops.Analytics.freshNames(df, "_rk")
    df.withColumn(rk, row_number().over(w)).where(col(rk) <= k).drop(rk)
  }

  /** Deterministic train/val/test assignment: named splits with integer
    * percent weights summing to 100, assigned from the row key's
    * [[hashBucket]] — a pure projection (no shuffle, no rand()), so the
    * same row lands in the same split across runs, engines, partitionings,
    * and incremental batches (the property that keeps eval sets
    * uncontaminated as the corpus grows). NULL keys get a NULL split
    * (consistent with the sampler's NULL semantics — route or fail them
    * explicitly upstream).
    */
  def assignSplit(key: Column, splits: Seq[(String, Int)]): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) && splits.map(_._2).sum == 100,
      "split weights must be positive integer percents summing to 100")
    val b = hashBucket(key)
    val cum = splits.scanLeft(0)(_ + _._2).tail
    splits.tail.zip(cum.tail).foldLeft(when(b < cum.head, lit(splits.head._1))) {
      case (acc, ((nm, _), hi)) => acc.when(b < hi, lit(nm))
    }
  }

  /** Uniform double in [0, 1) from the row key: 52 md5 bits over 2⁵². 52
    * bits — not 60 — because every integer below 2⁵³ converts to double
    * EXACTLY: a 60-bit numerator would round on the int→double cast, and
    * values in the top rounding window would land on 2⁶⁰ exactly, making
    * the unit value 1.0 — outside the documented range, and a row a
    * keep-rate-1.0 mix would wrongly drop. The divisor is a power of two,
    * so the scaling is exact and engine-portable bit for bit.
    */
  def hashUnit(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 13), 16, 10).cast("double") /
      lit((1L << 52).toDouble)

  /** Temperature-flattened source mixture (the XLM-R / GPT-3 α-sampling
    * standard for balancing multilingual / multi-source corpora): target
    * share p_s ∝ n_s^α over the measured per-source token masses, then the
    * same capped keep-rate construction as [[mixByTokenBudget]]
    * (r_s = min(1, budget·p_s / n_s)). α = 1 reproduces natural
    * proportions; α → 0 approaches a uniform mix; α = 1/2 is the common
    * flattening point — and the engine-portable one: `sqrt` is IEEE
    * exactly-rounded in every engine, while general `pow` is libm
    * (last-ulp differences), so α = 1/2 is computed via sqrt and the
    * DuckDB oracle can replay the whole mix decision.
    *
    * Source totals are metadata-small (one row per source) and collected
    * SORTED: the normalization Σ n^α is a double fold whose result depends
    * on addition order, so a deterministic order is part of the
    * reproducibility contract (the oracle mirrors it with an ORDER BY'd
    * list fold). Sources are keyed by their string form.
    */
  def mixByTemperature(docs: DataFrame, key: Column, source: Column, tokensCol: Column,
                       alpha: Double, tokenBudget: Long): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha in [0,1]")
    // NULL sources carry no weight and are dropped (the object-level NULL
    // contract covers keys; the same stance applies to the stratum here),
    // and a source whose token masses are all NULL sums to NULL — both
    // would otherwise NPE the driver-side getString/getLong/sort below
    val totals = docs.where(source.isNotNull)
      .groupBy(source.cast("string").as("_s"))
      .agg(sum(tokensCol.cast("long")).as("_n"))
      .collect()
      .flatMap(r => if (r.isNullAt(1) || r.getLong(1) <= 0L) None
                    else Some((r.getString(0), r.getLong(1))))
      // UTF-8 BYTE order, not String.compareTo: Java's UTF-16 code-unit
      // order ranks supplementary-plane keys (surrogates, 0xD800+) below
      // U+E000..U+FFFF, while the oracle's binary collation (and any
      // engine folding in code-point order) ranks them above — for such
      // source names the Σ n^α fold order, hence the double sum, would
      // silently diverge. UTF-8 bytes compare identically to code points.
      .sortBy(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))(
        (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
    def powA(n: Double): Double =
      if (alpha == 0.5) math.sqrt(n) else math.pow(n, alpha)
    val powed = totals.map { case (s, n) => (s, powA(n.toDouble)) }
    val z = powed.foldLeft(0.0)(_ + _._2)
    // the per-source rates are fully determined once the (metadata-small)
    // totals are on the driver — inline them as a literal CASE so the mix
    // is ONE pure filter pass: re-deriving the totals distributed for a
    // broadcast join (the explicit-weights path) would re-aggregate the
    // corpus a second time for values already in hand. Arithmetic order
    // matches the oracle exactly: min(1, (budget · (p/z)) / n).
    val rate = totals.zip(powed).foldLeft(lit(0.0)) {
      case (acc, ((s, n), (_, p))) =>
        val r = math.min(1.0, tokenBudget.toDouble * (p / z) / n.toDouble)
        when(source.cast("string") === lit(s), lit(r)).otherwise(acc)
    }
    docs.where(hashUnit(key) < rate)
  }

  /** Token-budget corpus mixture — the "sample each source to hit a target
    * token composition" step of assembling a training mix. Each source s
    * with mixture weight w_s is kept at rate
    * `r_s = min(1, budget·w_s / tokens_s)`, i.i.d. per row by [[hashUnit]]
    * of the row key, so the expected kept token mass is budget·w_s (capped
    * by what the source has — an undersized source keeps everything rather
    * than inventing data). Sources without a weight are dropped.
    *
    * Scale shape: one map-side partial aggregation for the per-source token
    * totals (source cardinality is metadata-small), broadcast back, then a
    * pure filter — the corpus itself never shuffles, and the decision is
    * reproducible row-for-row across runs, engines, and repartitionings.
    */
  def mixByTokenBudget(docs: DataFrame, key: Column, source: Column, tokensCol: Column,
                       weights: Map[String, Double], tokenBudget: Long): DataFrame = {
    require(weights.values.forall(_ >= 0), "mixture weights must be nonnegative")
    // fresh helper names: a docs column literally named "_mix_src" would
    // make the join condition ambiguous at runtime, and one named
    // "_keep_rate" would be silently dropped below
    val Seq(srcCol, rateCol) = graft.ops.Analytics.freshNames(docs, "_mix_src", "_keep_rate")
    val totals = docs.groupBy(source.as(srcCol))
      .agg(sum(tokensCol.cast("long")).as("_src_tokens"))
    val w = weights.foldLeft(lit(0.0)) { case (acc, (s, p)) =>
      when(col(srcCol) === lit(s), lit(p)).otherwise(acc)
    }
    // guard the NULL/zero token total (the mixByTemperature stance): the
    // raw division yields NULL there, and least() SKIPS a NULL operand —
    // an unweighted source with missing token metadata would come out at
    // keep-rate 1.0 (kept in full) instead of the documented drop
    val rate = when(col("_src_tokens").isNotNull && col("_src_tokens") > 0L,
      least(lit(1.0),
        lit(tokenBudget).cast("double") * w / col("_src_tokens").cast("double")))
      .otherwise(lit(0.0))
    docs.join(broadcast(totals.select(col(srcCol), rate.as(rateCol))),
        source === col(srcCol))
      .where(hashUnit(key) < col(rateCol))
      .drop(srcCol, rateCol)
  }

  /** Fractional-epoch mixing (the Llama/GPT data-recipe schedule): each
    * source repeats `epochs(src)` times, where a fractional part keeps a
    * deterministic hash-selected slice in the final partial epoch —
    * e.g. 2.3 epochs = every doc twice, plus the ~30% of docs whose
    * per-(doc, epoch-index) hash bucket falls under 30 (epochs quantize
    * to CENTIEPOCHS: the rate is integer percent, engine-portable, and
    * finer than 1/100 of an epoch is meaningless for a corpus mix).
    * Each emitted copy carries its `epoch` index so downstream shuffling
    * can interleave copies rather than replay the corpus back to back.
    * Unlisted sources pass through once (100 centiepochs). A pure
    * explode+filter projection: no shuffle, no join; the per-source cost
    * is exactly the emitted volume.
    */
  def mixByEpochs(docs: DataFrame, key: Column, source: Column,
                  centiEpochs: Map[String, Int]): DataFrame = {
    require(centiEpochs.values.forall(_ >= 0))
    val centi = centiEpochs.foldLeft(lit(100)) { case (acc, (s, c)) =>
      when(source === lit(s), lit(c)).otherwise(acc)
    }
    val fullCopies = (centi / 100).cast("int")
    val frac = centi % 100
    // epoch indices 0..⌈centi/100⌉−1; the LAST index is the partial one
    val nIdx = fullCopies + when(frac > 0, 1).otherwise(0)
    val idx = when(nIdx >= 1, sequence(lit(0), nIdx - 1))
      .otherwise(array().cast("array<int>"))
    docs
      .withColumn("epoch", explode(idx))
      // concat, not concat_ws: concat_ws SKIPS a NULL key, hashing just
      // the epoch string — every NULL-keyed row would share ONE bucket
      // and ride the partial epoch all-or-nothing. concat null-propagates,
      // hashBucket(NULL) is NULL, and NULL < frac is false — NULL keys
      // drop from the partial epoch like every sampler here (the
      // object-level NULL contract); their FULL copies still emit.
      .where(col("epoch") < fullCopies ||
        hashBucket(concat(key.cast("string"), lit("#"), col("epoch").cast("string"))) < frac)
  }

  /** Curriculum interleave — the training-data ORDERING op: rank each
    * document within its source by a difficulty measure (easy first;
    * ties broken by key for determinism), so sorting the output by
    * `(curriculum_rank, source, key)` yields a round-robin schedule that
    * advances all sources through their difficulty curricula in lockstep
    * (no source's hard tail is ever front-loaded). ONE window shuffle on
    * the source; the rank is the schedule key — no corpus-wide
    * row_number is ever materialized (a global position would be an
    * unpartitioned window over the corpus, the exact shape the plan lint
    * rejects). Callers write the output sorted by the schedule key and
    * stream it in order.
    */
  def curriculumInterleave(docs: DataFrame, key: Column, source: Column,
                           difficulty: Column): DataFrame = {
    // nulls LAST: a NULL difficulty (scorer miss) must not rank as "the
    // easiest" and front-load every source's schedule — unknown hardness
    // trains last, after everything the scorer could actually order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(source).orderBy(difficulty.asc_nulls_last, key.asc_nulls_last)
    docs.withColumn("curriculum_rank", row_number().over(w))
  }

  /** Cluster-balanced subset: at most `perCluster` rows per semantic
    * cluster, drawn by the deterministic pseudo-random order
    * (md5(key), key) — the topic-balancing curation step that keeps a
    * training mix from being dominated by its biggest semantic clusters
    * (the head of a web crawl) while still covering every cluster found.
    * The caller supplies the cluster column (k-means label, SRP bucket,
    * source domain — any grouping); selection is one partitioned window
    * with Spark 4's WindowGroupLimit pre-truncating to `perCluster` per
    * partition BEFORE the exchange, so the shuffle carries O(k·perCluster)
    * winners plus bounded per-partition prefixes, never the corpus order.
    * Deterministic at any partitioning: the (hash, key) order is a total
    * order computed per row.
    */
  def clusterBalancedSample(df: DataFrame, key: Column, cluster: Column,
                            perCluster: Int): DataFrame = {
    require(perCluster > 0)
    // nulls LAST (matching groupSample's documented NULL contract):
    // md5(NULL) is NULL and plain .asc is NULLS FIRST, which would hand
    // every per-cluster slot to NULL-keyed rows and silently drop the
    // cluster's real documents
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(cluster).orderBy(md5(key.cast("string")).asc_nulls_last, key.asc_nulls_last)
    df.withColumn("pick_rank", row_number().over(w))
      .where(col("pick_rank") <= perCluster)
  }
}
