package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Session/time-series/sequence operators of [[Analytics]]
  * (sessionization, funnels, cohorts, rolling/EWMA stats, Markov chains,
  * seasonal anomalies, run/interval analytics, CUSUM, OHLC). Pure code
  * motion from the Analytics object; call everything via `Analytics.`.
  */
trait AnalyticsSeqOps extends AnalyticsBase {
  /** Gap-based sessionization in batch: a new session starts when the gap to
    * the previous event of the same key exceeds `gap` (in the units of the
    * numeric ts column). Session ids are a running sum of boundary flags —
    * one shuffle on the key.
    */
  def sessionizeNumeric(df: DataFrame, key: Column, tsNum: Column, gap: Long): DataFrame = {
    val Seq(flagN) = freshNames(df, "_new_session")
    val wOrd = Window.partitionBy(key).orderBy(tsNum.asc)
    val prev = lag(tsNum, 1).over(wOrd)
    val isNew = when(prev.isNull || tsNum - prev > gap, 1).otherwise(0)
    df.withColumn(flagN, isNew)
      .withColumn("session_id", sum(col(flagN)).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop(flagN)
  }

  /** Ordered funnel analysis: per entity, how far through the stage
    * sequence it progressed, where stage k counts only if its FIRST
    * occurrence is strictly after stage k-1's first occurrence (the
    * standard conversion-funnel semantic). One conditional aggregation on
    * the entity key — a single shuffle, no joins, no re-scans per stage.
    * `tsNum` must be a numeric (e.g. integer-µs) event time.
    */
  def funnelStages(df: DataFrame, entity: Column, eventType: Column, tsNum: Column,
                   stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    val firsts = df.groupBy(entity.as("entity"))
      .agg(min(when(eventType === stages.head, tsNum)).as("t0"),
        stages.tail.zipWithIndex.map { case (s, i) =>
          min(when(eventType === s, tsNum)).as(s"t${i + 1}")
        }: _*)
    // reached = length of the longest prefix with strictly increasing firsts
    val reached = stages.indices.tail.foldLeft(
        when(col("t0").isNotNull, lit(1)).otherwise(lit(0))) { (acc, i) =>
      when(acc === i && col(s"t${i - 1}") < col(s"t$i"), lit(i + 1)).otherwise(acc)
    }
    firsts.select(col("entity") +: (col("t0") +:
      stages.indices.tail.map(i => col(s"t$i")) :+ reached.as("reached")): _*)
  }

  /** Cohort retention matrix: entities are bucketed by the period of their
    * FIRST event (the cohort), and every event then counts its entity into
    * (cohort, periods-since-cohort). Two aggregations — first-event per
    * entity (map-side partial), then distinct entities per cell; the join
    * back is on the entity key and broadcasts when the entity dimension is
    * small. `tsNum` is numeric event time; `periodLen` the bucket width in
    * the same unit (e.g. 7·86400·10⁶ µs for weekly).
    */
  def cohortRetention(df: DataFrame, entity: Column, tsNum: Column,
                      periodLen: Long): DataFrame = {
    // NULL-entity rows are DROPPED by the plain equality join back (and
    // by the oracle's plain SQL JOIN — both engines agree): a NULL
    // entity identifies no one, so it belongs to no cohort. This is the
    // one deliberate exception to the file's null-safe join-back
    // convention; route NULL entities explicitly upstream if they matter.
    require(periodLen > 0)
    val ev = df.select(entity.as("entity"), tsNum.as("_ts"))
    val firsts = ev.groupBy(col("entity"))
      .agg(floor(min(col("_ts")) / periodLen).cast("long").as("cohort"))
    ev.join(firsts, "entity")
      .groupBy(col("cohort"),
        (floor(col("_ts") / periodLen).cast("long") - col("cohort")).as("periods_since"))
      .agg(count_distinct(col("entity")).as("n_entities"))
  }

  /** Rolling (sliding-frame) stats over an ordered per-key series — the
    * moving-average primitive. Frame = the current row and `nPreceding`
    * rows before it in `order` within `key`. The rolling sum is a DECIMAL
    * sum cast back to double: sliding-window engines are free to evaluate
    * the frame via segment trees (DuckDB) or incremental add/retract
    * (Spark), i.e. in DIFFERENT addition orders — decimal is the only
    * representation where that difference is invisible. One shuffle (the
    * window partition); `order` must be a total order within the key for
    * the result to be well-defined; values sum at 6 decimal places. Adds
    * `roll_sum`, `roll_n`, `roll_avg` (= exact sum / exact count, one
    * correctly-rounded division).
    */
  def rollingStats(df: DataFrame, key: Column, order: Seq[Column], value: Column,
                   nPreceding: Int): DataFrame = {
    require(nPreceding >= 0)
    val w = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(-nPreceding.toLong, Window.currentRow)
    val d = value.cast("decimal(24,6)")
    df.withColumn("roll_sum", sum(d).over(w).cast("double"))
      .withColumn("roll_n", count(d).over(w))
      .withColumn("roll_avg", col("roll_sum") / col("roll_n").cast("double"))
  }

  /** [[dyadicEwma]]'s term count; [[graft.Queries.ewmaOracleSql]] reads it too. */
  private[graft] val EwmaTerms = 16

  /** Dyadic EWMA — exponential smoothing with α = 1/2 and a `terms` =
    * [[EwmaTerms]] term truncated tail, the anomaly-smoothing primitive
    * with EXACT arithmetic: because the decay is a power of two and the input is
    * integral, the weighted numerator Σₖ v₍ᵢ₋ₖ₎·2^(terms−1−k) is a pure
    * BIGINT expression — no decimal-precision cliffs, no float summation
    * order, engine-identical to the last bit; the one double division at
    * the end (by 2^terms·scaleDiv) is a single deterministic IEEE op.
    * Truncation error is bounded by 2^−terms·max|v| (the dropped tail's
    * total weight). One window shuffle on the key; the lag chain is
    * `terms` references into the SAME window frame — one sort, no
    * self-joins. Missing leading lags contribute 0 (standard warm-up).
    *
    * `valueInt` must be integral (pre-scale doubles with floor(v·1000)
    * and pass scaleDiv = 1000). Overflow bound: |v|·2^terms·terms < 2⁶³.
    */
  def dyadicEwma(df: DataFrame, key: Column, order: Seq[Column],
                 valueInt: Column, scaleDiv: Double = 1.0): DataFrame = {
    val terms = EwmaTerms
    val w = Window.partitionBy(key).orderBy(order: _*)
    val num = (0 until terms).map { k =>
      coalesce(lag(valueInt, k).over(w), lit(0L)) * lit(1L << (terms - 1 - k))
    }.reduce(_ + _)
    df.withColumn("ewma_num", num)
      .withColumn("ewma",
        col("ewma_num").cast("double") / lit((1L << terms).toDouble * scaleDiv))
  }

  /** First-order Markov transition stats over an ordered per-key event
    * sequence: counts of (state → next state) plus the exact conditional
    * probability (one IEEE division of integer counts). One window
    * shuffle on the key (lead), one bounded aggregation (|states|² output
    * cells). The end of each key's sequence contributes no pair.
    */
  def markovTransitions(df: DataFrame, key: Column, order: Seq[Column],
                        state: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(order: _*)
    df.select(state.as("from_state"), lead(state, 1).over(w).as("to_state"))
      .where(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("from_state"))))
      .select(col("from_state"), col("to_state"), col("n"),
        col("row_total").cast("long").as("row_total"),
        (col("n").cast("double") / col("row_total").cast("double")).as("p"))
  }

  /** Seasonal-baseline anomaly census with EXACT outlier flags and NO
    * float anywhere in the decision: measures pre-scale to integers
    * (caller passes an integral column, e.g. floor(v·10⁶) — the op_ewma
    * convention), each season's mean/variance stay rational, and the
    * z-style flag |v − μ| > k·σ (k = 2) cross-multiplies to pure integers:
    *   (n·v − s)² > k² · (n·ss − s²)
    * (both sides exact in DECIMAL(38,0); μ = s/n, σ² = ss/n − (s/n)²
    * multiplied through by n²). Two passes over the fact table (moments,
    * then flags — the standardizeStats literal-fold shape would fuse
    * them; here the season count is bounded so a broadcast join back is
    * one cheap exchange), output bounded by |seasons|.
    */
  def seasonalAnomaly(df: DataFrame, season: Column, valueInt: Column): DataFrame = {
    val k = 2
    val proj = df.select(season.as("season"), valueInt.cast("long").as("_v"))
    val moments = proj.groupBy(col("season"))
      .agg(count(col("_v")).as("_n"),
        sum(col("_v").cast("decimal(28,0)")).as("_s"),
        // cast BEFORE squaring: long v·v wraps past |v| ~ 3.04e9 while
        // the documented contract (n·|v|max < 10^18) admits such values;
        // decimal·long widens exactly and agrees with long below 2^63
        sum((col("_v").cast("decimal(19,0)") * col("_v")).cast("decimal(38,0)")).as("_ss"))
    val m = moments.select(col("season").as("_ms"), col("_n"), col("_s"), col("_ss"))
    // every product casts to decimal BEFORE multiplying — a long n·v
    // would wrap silently near the contract edge. CONTRACT: n·|v|max
    // < 10¹⁸ per season (e.g. 10⁹ rows of millionth-scaled values up
    // to 10³) so (n·v − s)² stays inside DECIMAL(38,0) — the
    // perceptron-style overflow window; shard seasons above it
    def d38(c: Column) = c.cast("decimal(38,0)")
    val lhs = {
      val t = d38(col("_n")) * d38(col("_v")) - d38(col("_s"))
      t * t
    }
    val rhs = lit(k.toLong * k) *
      (d38(col("_n")) * d38(col("_ss")) - d38(col("_s")) * d38(col("_s")))
    // NULL-SAFE join-back: groupBy created a NULL-season moments row, so
    // plain === would silently drop every NULL-season input row here (the
    // kSuppress hazard this file documents)
    proj.join(broadcast(m), col("season") <=> col("_ms"))
      .groupBy(col("season"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("_s").cast("double") / col("_n").cast("double")).as("season_mean"),
        sum(when(lhs > rhs, 1L).otherwise(0L)).as("n_anomalies"))
  }

  /** ClickHouse-style windowFunnel, exact for a 3-stage chain: per
    * entity, the deepest stage s1→s2→s3 reachable with every step inside
    * `windowUs` of the CHAIN'S FIRST event. Pure window algebra on the
    * entity timeline — no self-joins:
    *  - vbest(c) = latest s1 strictly before the s2 event c, nulled when
    *    older than c − T (the only s1 that can anchor a chain through c
    *    is the latest one);
    *  - a running max of the surviving anchors over s2 events tells each
    *    s3 event p whether SOME chain anchor v satisfies p ≤ v + T.
    * Returns one row per entity: (entity, depth ∈ 0..3). One window
    * shuffle on the entity key; constant per-row state.
    */
  def windowFunnel3(df: DataFrame, entity: Column, tsUs: Column,
                    tiebreak: Column, eventType: Column,
                    s1: String, s2: String, s3: String,
                    windowUs: Long): DataFrame = {
    val base = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_e")).orderBy(col("_ts"), col("_rk"))
    val prior = base.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val upTo = base.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // tiebreak must be a STABLE row id (event id) — monotonically_
    // increasing_id would order ts-ties by partition layout
    val proj = df.select(entity.as("_e"), tsUs.cast("long").as("_ts"),
      eventType.as("_et"), tiebreak.as("_rk"))
    val vbest = last(when(col("_et") === s1, col("_ts")), ignoreNulls = true)
      .over(prior)
    val annotated = proj
      .withColumn("_vok",
        when(col("_et") === s2,
          when(vbest >= col("_ts") - windowUs, vbest)))
      .withColumn("_anchor", max(col("_vok")).over(upTo))
    annotated.groupBy(col("_e").as("entity"))
      .agg(
        max(when(col("_et") === s1, 1L).otherwise(0L)).as("_d1"),
        max(when(col("_vok").isNotNull, 1L).otherwise(0L)).as("_d2"),
        max(when(col("_et") === s3 && col("_anchor") >= col("_ts") - windowUs,
          1L).otherwise(0L)).as("_d3"))
      .select(col("entity"),
        (col("_d1") + col("_d1") * col("_d2") + col("_d1") * col("_d2") * col("_d3"))
          .as("depth"))
  }

  /** Row-pattern statistics per key — the MATCH_RECOGNIZE-lite census:
    * local peaks/valleys (strictly greater/smaller than BOTH neighbors —
    * ties break no pattern) and the longest strictly-monotone up/down
    * runs via the gaps-and-islands trick (run id = running count of
    * direction changes; islands grouped and measured). All integer-exact.
    * One shuffle on the key (the three window passes share the partition
    * sort), plus one bounded (key, island) aggregation. Endpoints have
    * one neighbor and can't be peaks; a run of length n covers n+1 rows
    * but is measured in STEPS (n) — the convention the oracle mirrors.
    * Output: (key, n_rows, n_peaks, n_valleys, longest_up, longest_down).
    */
  def peakRunStats(df: DataFrame, key: Column, order: Seq[Column],
                   valueInt: Column): DataFrame = {
    // project FIRST, window over the projected names: the caller's key/
    // order expressions may not survive the projection
    val proj = df.select((key.as("grp") +: valueInt.as("_v") +:
      order.zipWithIndex.map { case (c, i) => c.as(s"_o$i") }): _*)
    val ord = order.indices.map(i => col(s"_o$i"))
    val w = Window.partitionBy(col("grp")).orderBy(ord: _*)
    val marked = proj
      .withColumn("_prev", lag(col("_v"), 1).over(w))
      .withColumn("_next", lead(col("_v"), 1).over(w))
      .withColumn("_dir",
        when(col("_prev").isNull, lit(0))
          .when(col("_v") > col("_prev"), lit(1))
          .when(col("_v") < col("_prev"), lit(-1)).otherwise(lit(0)))
      .withColumn("_chg",
        when(lag(col("_dir"), 1).over(w).isNull ||
          col("_dir") =!= lag(col("_dir"), 1).over(w), 1L).otherwise(0L))
      .withColumn("_run", sum(col("_chg")).over(
        Window.partitionBy(col("grp")).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val runs = marked.where(col("_dir") =!= 0)
      .groupBy(col("grp"), col("_run"), col("_dir"))
      .agg(count(lit(1)).as("_len"))
    val runAgg = runs.groupBy(col("grp"))
      .agg(max(when(col("_dir") === 1, col("_len"))).as("_lu"),
        max(when(col("_dir") === -1, col("_len"))).as("_ld"))
    val peakAgg = marked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_prev").isNotNull && col("_next").isNotNull &&
          col("_v") > col("_prev") && col("_v") > col("_next"), 1L)
          .otherwise(0L)).as("n_peaks"),
        sum(when(col("_prev").isNotNull && col("_next").isNotNull &&
          col("_v") < col("_prev") && col("_v") < col("_next"), 1L)
          .otherwise(0L)).as("n_valleys"))
    peakAgg.join(runAgg, Seq("grp"), "left")
      .select(col("grp"), col("n_rows"), col("n_peaks"), col("n_valleys"),
        coalesce(col("_lu"), lit(0L)).as("longest_up"),
        coalesce(col("_ld"), lit(0L)).as("longest_down"))
  }

  /** Per-key UNION length of (possibly overlapping) intervals — the
    * covered-time primitive (billing, uptime, sensor coverage): the
    * classic sweep, expressed as ONE key-window pass. Each interval
    * contributes `max(0, end − max(start, max-prior-end))` — overlap with
    * anything earlier is clipped by the running maximum of previous ends,
    * so overlaps never double-count and intervals CONTAINED in an earlier
    * one contribute 0. All arithmetic exact integers (µs); per-key series
    * must fit a task sort (the TWAP contract). Zero-/negative-length
    * intervals contribute 0. Output: (key, n_intervals, covered).
    */
  def intervalUnionLength(df: DataFrame, key: Column, order: Seq[Column],
                          startCol: Column, endCol: Column): DataFrame = {
    // the sweep's max-prior-end clipping is only correct when intervals
    // arrive START-ASCENDING (an out-of-order earlier interval would be
    // clipped by a LATER start and silently undercount) — enforce it by
    // sorting on startCol first; `order` remains the deterministic
    // tiebreak within equal starts
    val w = Window.partitionBy(key).orderBy(startCol +: order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.where(startCol.isNotNull && endCol.isNotNull)
      .select(key.as("grp"), startCol.as("_s"), endCol.as("_e"),
        max(endCol).over(w).as("_pmax"))
      .select(col("grp"),
        greatest(col("_e") - greatest(col("_s"), coalesce(col("_pmax"), col("_s"))),
          lit(0L)).as("_contrib"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_intervals"), sum(col("_contrib")).as("covered"))
  }

  /** Per-key lag-k autocorrelation (ACF) of an integer-quantized series —
    * the time-series memory diagnostic (seasonality/trend screening)
    * computed the hash-portable way: ONE window pass materializes the k
    * leads (shared frame sort), ONE aggregation computes, per lag, the
    * exact decimal Pearson moments over the defined pairs (rows whose
    * lead exists), and each ACF is the op_regression corr double tree —
    * identical operands, identical shape, identical bits in any engine.
    * Built-in `corr()` is accumulation-order dependent and would flake.
    * `valueInt` must be integral (pre-scale with floor(v·1000)); moments
    * are DECIMAL(38,0)-exact to ~10¹² rows at |v|≤10⁶. Degenerate lags
    * (no pairs, zero variance) yield NULL, never a division error.
    * Output: (key, n_pairs_1..maxLag, acf_1..maxLag).
    */
  def autocorrelation(df: DataFrame, key: Column, order: Seq[Column],
                      valueInt: Column, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8)
    val w = Window.partitionBy(key).orderBy(order: _*)
    val base = df.select((key.as("grp") +: valueInt.as("_v") +:
      (1 to maxLag).map(k => lead(valueInt, k).over(w).as(s"_l$k"))): _*)
    def d(c: Column) = c.cast("decimal(38,0)")
    val aggs = (1 to maxLag).flatMap { k =>
      val lk = col(s"_l$k"); val v = col("_v")
      // a pair exists only when BOTH ends are non-null — else n would
      // count rows whose moments the null-skipping sums exclude
      val in = lk.isNotNull && v.isNotNull
      Seq(
        sum(when(in, 1L).otherwise(0L)).as(s"n$k"),
        sum(when(in, d(v))).as(s"sx$k"),
        sum(when(in, d(lk))).as(s"sy$k"),
        sum(when(in, d(v) * v)).as(s"sxx$k"),
        sum(when(in, d(lk) * lk)).as(s"syy$k"),
        sum(when(in, d(v) * lk)).as(s"sxy$k"))
    }
    val m = base.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
    val outCols = col("grp") +:
      ((1 to maxLag).map(k => col(s"n$k").as(s"n_pairs_$k")) ++
        (1 to maxLag).map { k =>
          def dd(n: String) = col(n).cast("double")
          val n = dd(s"n$k"); val sx = dd(s"sx$k"); val sy = dd(s"sy$k")
          val sxx = dd(s"sxx$k"); val syy = dd(s"syy$k"); val sxy = dd(s"sxy$k")
          val varx = n * sxx - sx * sx
          val vary = n * syy - sy * sy
          when(col(s"n$k") > 0 && varx > 0.0 && vary > 0.0,
            (n * sxy - sx * sy) / sqrt(varx * vary)).as(s"acf_$k")
        })
    m.select(outCols: _*)
  }

  /** Ordered k-gram pattern mining over per-key event sequences: counts
    * every length-`k` run of consecutive `state` values within each key's
    * `order`-sorted timeline (PrefixSpan's contiguous special case — the
    * form that needs no candidate generation). ONE window shuffle on the
    * key (the k−1 `lead`s share a single frame sort) and one bounded
    * aggregation: the output is ≤|states|^k cells regardless of corpus
    * size. Sequences shorter than k contribute nothing; counts are exact
    * integers. Output: pattern element columns `s0..s{k-1}` + `n`.
    */
  def sequencePatterns(df: DataFrame, key: Column, order: Seq[Column],
                       state: Column, k: Int): DataFrame = {
    require(k >= 2 && k <= 8, "pattern length must be in [2,8]")
    val w = Window.partitionBy(key).orderBy(order: _*)
    val cols = (0 until k).map(i =>
      (if (i == 0) state else lead(state, i).over(w)).as(s"s$i"))
    df.select(cols: _*)
      // s0 needs the guard too: a NULL state LEADING a gram would count
      // as a pattern element while the same NULL at any later position
      // drops the gram (indistinguishable from end-of-sequence) — counts
      // must not depend on WHERE a NULL sits. Oracle mirrors the filter.
      .where((0 until k).map(i => col(s"s$i").isNotNull).reduce(_ && _))
      .groupBy((0 until k).map(i => col(s"s$i")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Time-weighted average (TWAP) over an IRREGULAR series: each
    * observation holds until the next one, so its weight is the exact
    * integer-µs duration to the successor (one lead window per key; the
    * final observation has no holding interval and drops — the standard
    * convention). The weighted sum is DECIMAL (milli-scaled values ×
    * µs durations — order-independent), and TWAP itself is one final
    * IEEE division. The mean a plain avg() gets WRONG whenever sampling
    * is irregular — sensor data, prices, any event stream.
    * Output per key: n_intervals, total_dur_us, twap.
    */
  def timeWeightedAvg(df: DataFrame, key: Column, tsUs: Column, tiebreak: Column,
                      valueMilli: Column): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("_ts"), col("_rk"))
    df.select(key.as("key"), tsUs.cast("long").as("_ts"), tiebreak.as("_rk"),
        valueMilli.cast("long").as("_v"))
      .withColumn("_dur", lead(col("_ts"), 1).over(w) - col("_ts"))
      .where(col("_dur").isNotNull)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("_dur")).as("total_dur_us"),
        (sum(col("_v").cast("decimal(18,0)") * col("_dur").cast("decimal(18,0)"))
          .cast("double") / sum(col("_dur")).cast("double")).as("twap_milli"))
  }

  /** CUSUM change-point detection (one-sided upper), exactly, in ONE
    * window pass: the textbook recursion s_k = max(0, s_{k−1} + dev_k) is
    * not window-expressible, but it equals `S_k − min_{j≤k} S_j` for
    * S = running sum of deviations — so two frames over one sort give the
    * exact CUSUM statistic with NO iterative loop. Deviations are integer
    * (caller pre-scales the measure to milli-units, the floor(v·1000)
    * float discipline): dev = v − target − slack, with the per-key target
    * the integer-floor mean (`sum div n` — exact in both engines).
    * Output per key: n_points, target_milli, max_cusum, n_alarms
    * (cusum > threshold), first_alarm_ts (NULL when none).
    *
    * Scale: one aggregation for targets (bounded key domain broadcasts
    * back), one partitioned sort for the windows, one final bounded
    * aggregate. A key's series must fit a task's sort — the op_ntile
    * caveat; partition further by time range for unbounded series.
    */
  def cusumAlarms(df: DataFrame, key: Column, tsUs: Column, tiebreak: Column,
                  valueMilli: Column, slackMilli: Long, thresholdMilli: Long): DataFrame = {
    val base = df.select(key.as("key"), tsUs.cast("long").as("_ts"),
      tiebreak.as("_rk"), valueMilli.cast("long").as("_v"))
    val tgt = base.groupBy(col("key"))
      .agg(sum(col("_v")).as("_sv"), count(lit(1)).as("_n"))
      .select(col("key").as("_tk"), expr("_sv div _n").as("target_milli"))
    val w = Window.partitionBy(col("key")).orderBy(col("_ts"), col("_rk"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // null-safe: a NULL-key group's target row must match back (see the
    // seasonalAnomaly join-back note)
    val scored = base.join(broadcast(tgt), col("key") <=> col("_tk"))
      .withColumn("_s", sum(col("_v") - col("target_milli") - lit(slackMilli)).over(w))
      // the empty prefix S_0 = 0 is a valid minimum candidate (s_1 =
      // max(0, dev_1), not dev_1 − dev_1): clamp the running min at 0
      .withColumn("_cusum", col("_s") - least(min(col("_s")).over(w), lit(0L)))
    scored.groupBy(col("key"))
      .agg(count(lit(1)).as("n_points"),
        first(col("target_milli")).as("target_milli"),
        max(col("_cusum")).as("max_cusum"),
        sum(when(col("_cusum") > thresholdMilli, 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("_cusum") > thresholdMilli, col("_ts"))).as("first_alarm_ts"))
  }

  /** Time-bar resample (OHLC): bucket a value stream into fixed bars per
    * key — open/close via `min_by`/`max_by` on the (ts, tiebreak) struct
    * (ONE shuffle, partial-aggregable — never a window pass over the
    * corpus), high/low as plain min/max, the bar sum through DECIMAL so
    * it is summation-order exact. `tiebreak` must be a stable unique row
    * id (the [[windowFunnel3]] convention): min_by on a tied struct would
    * otherwise pick by partition layout.
    *
    * Scale: bars×keys is time-domain-bounded (not SF-growing), but the
    * aggregation itself distributes over the full stream — each executor
    * folds its slice into per-(key, bar) partials before the exchange.
    */
  def ohlcBars(df: DataFrame, key: Column, tsUs: Column, tiebreak: Column,
               value: Column, barUs: Long): DataFrame = {
    require(barUs >= 1)
    val ts = tsUs.cast("long")
    val ord = struct(ts.as("t"), tiebreak.as("r"))
    df.groupBy(key.as("key"), (ts - pmod(ts, lit(barUs))).as("bar_us"))
      .agg(
        min_by(value, ord).as("open"),
        max(value).as("high"),
        min(value).as("low"),
        max_by(value, ord).as("close"),
        count(lit(1)).as("n_events"),
        // momentSum: floating values take the long-rounding fast path
        Analytics.momentSum(df, value, 6, "sum_value",
          e => sum(e.cast("decimal(24,6)")).cast("double")))
  }
}
