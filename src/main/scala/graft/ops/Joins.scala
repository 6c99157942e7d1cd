package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Geo

/** Join operators (SURVEY.md §2.3 ops 15-16, §2.4 op 20, plus the §2.7
  * extensions: semi/anti and as-of).
  */
object Joins {

  /** Fail loudly when an input carries a column matching a reserved
    * helper name: withColumn REPLACES same-named columns silently and the
    * trailing drop then deletes the user's data — the fuzzyJoin guard,
    * shared by every helper-column join in this file.
    */
  private def requireFreshNames(op: String, names: Seq[String],
                                sides: DataFrame*): Unit =
    for (df <- sides; n <- names)
      require(!df.columns.contains(n),
        s"$op: input column '$n' collides with a reserved helper name — rename it first")

  /** Op 15 — broadcast hash lookup join. The reference builds an in-memory
    * dict `INSEE → (lat, lon)` and probes it per row (global_dag.py:129-134);
    * the scalable equivalent is an explicit broadcast of the small side so no
    * shuffle of the big side is ever needed.
    */
  def broadcastLookup(big: DataFrame, small: DataFrame, joinExpr: Column): DataFrame =
    big.join(broadcast(small), joinExpr, "inner")

  /** Op 20 — incremental ledger anti-join: `discovered − imported`
    * (global_dag.py:83-91). Generic left-anti on a key set.
    */
  def antiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")

  /** Op 16 — spatial radius θ-join, the reference's flagship analytic
    * ("deaths within 10 km of a power plant", docs/Report.md:85-89).
    *
    * A naive formulation is a cross join with a haversine predicate —
    * O(|left|·|right|) and a broadcast nested loop at scale. This version
    * grid-buckets both sides: each right row is replicated into its cell and
    * the 8 neighbors, the join becomes an equi hash join on the cell id, and
    * the exact haversine predicate filters candidates. Cell sizes must satisfy
    * latCellDeg ≥ radiusKm/110.57 and lonCellDeg ≥ radiusKm/(111.32·cos(maxLat))
    * so that ±1-cell neighborhoods cover the radius; callers pick them for
    * their data's latitude range.
    *
    * At 100 TB: the left (big) side shuffles once on the cell key (or not at
    * all when the right side is broadcast-small); replication factor of the
    * right side is a constant 9.
    */
  def radiusJoin(
      left: DataFrame,
      right: DataFrame,
      leftLat: Column, leftLon: Column,
      rightLat: Column, rightLon: Column,
      radiusKm: Double,
      latCellDeg: Double,
      lonCellDeg: Double,
      broadcastRight: Boolean = true,
      maxAbsLatDeg: Double = 60.0): DataFrame = {
    require(latCellDeg >= radiusKm / 110.57, s"latCellDeg $latCellDeg too small for radius $radiusKm km")
    require(math.abs(360.0 / lonCellDeg - math.round(360.0 / lonCellDeg)) < 1e-9,
      s"lonCellDeg $lonCellDeg must divide 360 so longitude cells wrap at the antimeridian")
    // A degree of longitude shrinks by cos(lat): an undersized lonCellDeg
    // would silently DROP qualifying pairs at high latitude, so it must be
    // validated against the data's latitude bound — with the EXACT haversine
    // bound Δλ <= 2·asin(sin(r/2R)/cos(lat)), not the linear approximation
    // r/(111.32·cos lat), which understates the requirement near its edge.
    val sinHalf = math.sin(radiusKm / (2 * Geo.EarthRadiusKm))
    val cosLat = math.cos(math.toRadians(maxAbsLatDeg))
    require(maxAbsLatDeg < 90.0 && cosLat > sinHalf,
      s"radius $radiusKm km spans all longitudes at latitude ±$maxAbsLatDeg° — no lon banding possible")
    // 0.1% slack absorbs last-ulp rounding through sin/asin/toDegrees and
    // the evaluated haversine, so "exactly at the minimum" callers cannot
    // land a borderline pair two cells apart (same margin RadiusJoinRule
    // applies to its ring widths)
    val minLonCell = math.toDegrees(2 * math.asin(sinHalf / cosLat)) * 1.001
    require(lonCellDeg >= minLonCell,
      s"lonCellDeg $lonCellDeg too small for radius $radiusKm km at latitude ±$maxAbsLatDeg°" +
        s" (need >= $minLonCell)")
    requireFreshNames("radiusJoin", Seq("_cell_lat", "_cell_lon", "_d_lat", "_d_lon"),
      left, right)
    val nLonCells = math.round(360.0 / lonCellDeg)
    // with 1 or 2 longitude cells the wrapped -1/+1 deltas COLLIDE in the
    // same cell, replicating each right row 2-3x into one join key and
    // emitting every qualifying pair 2-3 times — require enough cells
    // that the three deltas stay distinct
    require(nLonCells >= 3,
      s"lonCellDeg $lonCellDeg gives only $nLonCells longitude cells — the ±1 " +
        "wrap deltas collide and duplicate pairs; use lonCellDeg <= 120")
    // pmod wraps the longitude band so pairs straddling lon=±180 still meet
    def lonCell(lon: Column, delta: Column): Column =
      pmod(floor(lon / lonCellDeg) + delta, lit(nLonCells))
    // maxAbsLatDeg is a DECLARED data bound — a row beyond it would silently
    // lose qualifying pairs (its lon cells are too narrow at that latitude),
    // so verify it per row and fail loudly. NULL latitudes keep their
    // pre-existing behavior (null cell id → row joins nothing).
    def checkedLat(lat: Column): Column =
      when(lat.isNull || abs(lat) <= lit(maxAbsLatDeg), lat)
        .otherwise(raise_error(concat(
          lit(s"radiusJoin: row latitude "), lat.cast("string"),
          lit(s" exceeds declared maxAbsLatDeg=$maxAbsLatDeg — raise maxAbsLatDeg" +
            " (and lonCellDeg accordingly) or route high-latitude rows via the exact path"))))
    val l = left
      .withColumn("_cell_lat", floor(checkedLat(leftLat) / latCellDeg))
      .withColumn("_cell_lon", lonCell(leftLon, lit(0L)))
    val r0 = right
      .withColumn("_d_lat", explode(sequence(lit(-1), lit(1))))
      .withColumn("_d_lon", explode(sequence(lit(-1), lit(1))))
      .withColumn("_cell_lat", floor(checkedLat(rightLat) / latCellDeg) + col("_d_lat"))
      .withColumn("_cell_lon", lonCell(rightLon, col("_d_lon")))
      .drop("_d_lat", "_d_lon")
    val r = if (broadcastRight) broadcast(r0) else r0
    l.join(r, Seq("_cell_lat", "_cell_lon"))
      .where(Geo.haversineKm(leftLat, leftLon, rightLat, rightLon) <= lit(radiusKm))
      .drop("_cell_lat", "_cell_lon")
  }

  /** Range (interval) join: pair each point with every interval containing
    * it, without a cross join. Points bucket once; each interval replicates
    * into every bucket it overlaps (sequence(floor(lo/b), floor(hi/b)) —
    * fully general, replication factor = intervalLen/bucketSize + 1), the
    * join is an equi hash join on the bucket, and the exact BETWEEN filter
    * prunes candidates. Pick bucketSize near the typical interval length so
    * replication stays O(1).
    */
  def rangeJoin(
      points: DataFrame, pointCol: Column,
      intervals: DataFrame, loCol: Column, hiCol: Column,
      bucketSize: Double): DataFrame = {
    // same fail-fast as intervalOverlapJoin: /0 is ±Infinity under
    // ANSI-off and the bucket exprs would silently emit garbage buckets
    require(bucketSize > 0, s"bucketSize must be positive, got $bucketSize")
    requireFreshNames("rangeJoin", Seq("_rb"), points, intervals)
    val p = points.withColumn("_rb", floor(pointCol / bucketSize))
    val iv = intervals.withColumn("_rb",
      explode(sequence(floor(loCol / bucketSize), floor(hiCol / bucketSize))))
    p.join(iv, Seq("_rb"))
      .where(pointCol >= loCol && pointCol <= hiCol)
      .drop("_rb")
  }

  /** Interval-overlap join (interval × interval, where [[rangeJoin]] is
    * point × interval): pair every a-interval with every b-interval it
    * overlaps (`max(start) <= min(end)`), without a cross join. Both sides
    * replicate into the buckets they span; the join is an equi hash join
    * on the bucket; each overlapping pair is emitted EXACTLY ONCE — at the
    * bucket containing `max(aStart, bStart)`, which both sides provably
    * cover iff they overlap — so no distinct pass is needed afterwards.
    * Replication factor is span/bucketSize + 1 per side: pick bucketSize
    * near the typical interval length, same guidance as [[rangeJoin]].
    */
  def intervalOverlapJoin(
      a: DataFrame, aStart: Column, aEnd: Column,
      b: DataFrame, bStart: Column, bEnd: Column,
      bucketSize: Double): DataFrame = {
    require(bucketSize > 0)
    requireFreshNames("intervalOverlapJoin", Seq("_ib"), a, b)
    val av = a.withColumn("_ib",
      explode(sequence(floor(aStart / bucketSize), floor(aEnd / bucketSize))))
    val bv = b.withColumn("_ib",
      explode(sequence(floor(bStart / bucketSize), floor(bEnd / bucketSize))))
    av.join(bv, Seq("_ib"))
      .where(greatest(aStart, bStart) <= least(aEnd, bEnd) &&
        col("_ib") === floor(greatest(aStart, bStart) / bucketSize))
      .drop("_ib")
  }

  /** Skew-salted equi-join: when a handful of hot keys would overload single
    * reducers in a shuffled join, split each big-side key into `saltFactor`
    * sub-keys (deterministic hash of the whole row, so results are stable)
    * and replicate the small side once per salt. The shuffle then spreads a
    * hot key over `saltFactor` tasks. AQE's skew-join handles moderate skew
    * automatically; this is the explicit form for extreme generator-style
    * skew, and composes with `broadcast()` being impossible (small side too
    * big to broadcast, too skewed to shuffle naively).
    */
  def skewSaltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String], saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    requireFreshNames("skewSaltedJoin", Seq("_salt"), big, small)
    // salt only over hash()-supported columns: Spark's hash() rejects
    // MapType inputs (analysis error), and an irrelevant map column must
    // not break the salting of a join that never touches it
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val saltCols = big.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    require(saltCols.nonEmpty, "skewSaltedJoin: no hashable columns to derive a salt from")
    // the salt mixes in a per-row ordinal: a row-content hash ALONE gives
    // byte-identical hot-key rows (e.g. a frame pre-pruned to just the
    // join columns) one constant salt — the entire hot key still lands on
    // one reducer, the exact straggler this op exists to prevent.
    //
    // Retry safety: the ordinal (monotonically_increasing_id) is a
    // function of (partition index, row position). Partition CONTENTS are
    // deterministic under recompute (file scans and hash-partitioned
    // shuffles assign a fixed row SET per partition) but row ORDER is not
    // — reduce-side fetch order varies across attempts, so after a
    // shuffle-fetch failure a partially re-executed map task could salt
    // rows differently than already-committed reducers consumed,
    // duplicating/dropping rows. Guard: sort within partitions by the
    // full row content FIRST (Spark applies the same sort-before-assign
    // guard to round-robin repartition, SPARK-23207), making row order —
    // and therefore every row's salt — a pure function of partition
    // contents. Sort keys are chosen by ORDERABILITY, not hashability
    // (the two differ: maps hash via to_json here but never order;
    // calendar intervals hash natively but don't order): non-orderable
    // columns sort via to_json when JSON supports them, else a string
    // cast — both deterministic per row, so rows that differ only in
    // such a column keep stable ordinals. Residual: rows whose ONLY
    // difference is in values the sort treats as EQUAL (±0.0, NaN
    // payload bits) can still swap ordinals across attempts — but a swap
    // then exchanges rows that are value-equal under SQL semantics, so
    // join results stay value-identical; no observable dup/drop. No
    // shuffle: the sort is in-partition and spillable, and it costs far
    // less than the salted shuffle it stabilizes.
    def jsonable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType | _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType => true
      case _ => false
    }
    val sortKeys = big.schema.fields.map { f =>
      if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
        col(f.name)
      else if (jsonable(f.dataType)) to_json(col(f.name))
      else col(f.name).cast("string")
    }
    val bigSalted = big.sortWithinPartitions(sortKeys.toIndexedSeq: _*).withColumn("_salt",
      pmod(hash(saltCols.toIndexedSeq :+ monotonically_increasing_id(): _*), lit(saltFactor)))
    val smallSalted = small
      .withColumn("_salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    // shuffled HASH join, not sort-merge: salting exists precisely because
    // the small side is modest enough to replicate saltFactor× (a
    // fact-scale side would take the AQE skew path instead), so the
    // per-partition build — |small|·saltFactor/shufflePartitions — is
    // bounded by the caller's own sizing decision, and skipping both
    // sides' sorts saves the dominant cost of the salted shuffle
    bigSalted.join(smallSalted.hint("shuffle_hash"), keys :+ "_salt").drop("_salt")
  }

  /** As-of join (§2.7): for each probe row, attach the greatest build-side
    * timestamp ≤ the probe timestamp within the same key (ties: build row
    * wins, i.e. `<=` semantics).
    *
    * Scalable formulation: union both sides, one window sort per key, carry
    * the last non-null build timestamp forward. One shuffle on the key, no
    * N×M candidate blowup, no per-key collect.
    */
  def asofLastPrior(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      ts: String,
      asofCol: String): DataFrame = {
    requireFreshNames("asofLastPrior", Seq("_side", "_asof_ts", asofCol), probe)
    requireFreshNames("asofLastPrior", Seq("_side", "_asof_ts"), build)
    val tsType = build.schema(ts).dataType
    // NULL-key build rows are dropped: JOIN equality (and DuckDB's ASOF
    // JOIN, the oracle) never matches NULL = NULL, but the window
    // partition groups both sides' NULL keys into ONE partition — a
    // NULL-key probe row would silently inherit a NULL-key build row's
    // timestamp instead of the NULL asof join semantics give it
    val b = build
      .select(col(key), col(ts))
      .where(col(key).isNotNull)
      .withColumn("_side", lit(0))
      .withColumn("_asof_ts", col(ts))
    val p = probe
      .withColumn("_side", lit(1))
      .withColumn("_asof_ts", lit(null).cast(tsType))
    val w = Window
      .partitionBy(key)
      .orderBy(col(ts).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionByName(b, allowMissingColumns = true)
      .withColumn(asofCol, last(col("_asof_ts"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .drop("_side", "_asof_ts")
  }

  /** Fuzzy (edit-distance) join with prefix blocking — the entity-
    * resolution primitive. Candidates are generated by an EQUI-join on the
    * first `blockLen` characters of each key (never a cross join), then
    * verified with codegen'd `levenshtein(l, r) <= maxDist`. Blocking is
    * the standard recall tradeoff: pairs whose keys already differ inside
    * the block prefix are missed — run multiple passes with different
    * blocking functions (prefix, suffix, phonetic) to recover them.
    * At 100 TB the block key is the only shuffle key; block-size skew is
    * the thing to watch (a degenerate block reintroduces the quadratic).
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame, lKey: Column, rKey: Column,
                maxDist: Int, blockLen: Int): DataFrame = {
    require(maxDist >= 0 && blockLen >= 1)
    // helper/output names are reserved: withColumn REPLACES a same-named
    // input column silently (a chained second fuzzy pass would lose its
    // first edit_dist with no error) — fail loudly instead
    for (n <- Seq("_graft_lk", "_graft_rk", "_graft_blk", "edit_dist");
         side <- Seq(left, right))
      require(!side.columns.contains(n),
        s"fuzzyJoin: input column '$n' collides with a reserved helper/output name — rename it first")
    val l = left.withColumn("_graft_lk", lKey)
      .withColumn("_graft_blk", substring(lKey, 1, blockLen))
    val r = right.withColumn("_graft_rk", rKey)
      .withColumn("_graft_blk", substring(rKey, 1, blockLen))
    l.join(r, Seq("_graft_blk"))
      // cheap length prune first, then levenshtein computed ONCE and both
      // filtered and emitted (filter + projection are separate codegen
      // stages, so a second levenshtein call would run the quadratic
      // kernel twice per candidate)
      .where(abs(length(col("_graft_lk")) - length(col("_graft_rk"))) <= maxDist)
      .withColumn("edit_dist", levenshtein(col("_graft_lk"), col("_graft_rk")))
      .where(col("edit_dist") <= maxDist)
      .drop("_graft_blk", "_graft_lk", "_graft_rk")
  }

  /** Longest-prefix match — the routing-table lookup (IP → most specific
    * CIDR), a join no equi-key expresses directly: each 32-bit key must
    * match the route whose network covers it at the GREATEST prefix
    * length. Classic scale-safe form: cross the keys with the DISTINCT
    * prefix lengths present in the table (≤ 32 rows — broadcast), bucket
    * both sides to `key div 2^(32−len)`, equi-join on (len, bucket), and
    * keep the per-key argmax length (ties → smallest route id; one
    * max(struct) agg). Fan-out is |keys|·|distinct lens| ≤ 32× — linear,
    * never a theta-join. The route table broadcasts by the routing-table
    * boundedness contract (a FIB is device-memory-sized at any corpus
    * scale); the keys side streams. Unmatched keys drop (no default
    * route unless the table carries len 0). `networkCol` is the route's
    * 32-bit network ADDRESS (the CIDR base, e.g. 0x0A000000 for
    * 10.0.0.0/8) — BOTH sides are shifted down by `32 − plen` inside the
    * op, so any set low-order host bits in a sloppy route row are masked
    * off rather than silently matching nothing. Output: key, matched
    * `route_id`, `plen`.
    *
    * CONTRACT CHANGE (round 12): `networkCol` was previously the
    * PRE-SHIFTED bucket (`base div 2^(32−plen)`); it is now the RAW
    * address and the shift happens in-op. A stale caller passing
    * pre-shifted buckets would have them shifted AGAIN (collapsing to
    * bucket 0) and silently match wrong or no routes — so the op raises
    * at runtime on any network value outside [0, 2^32): a pre-shifted
    * bucket of a non-trivial prefix is small and still passes, but the
    * guard (evaluated once per ROUTE row, a device-memory-bounded
    * table) converts the common stale-caller modes — negative or
    * over-wide values — into a loud error instead of a silent
    * wrong-match.
    */
  def longestPrefixMatch(keys: DataFrame, keyCol: Column,
                         routes: DataFrame, networkCol: Column, plenCol: Column,
                         routeIdCol: Column): DataFrame = {
    val lens = routes.select(plenCol.cast("int").as("_plen")).distinct()
    // plen outside [0,32] is guarded like the other two inputs: Spark's
    // shiftleft MASKS the shift amount (32-33 = -1 shifts by 63), so an
    // out-of-range plen would silently bucket every key to this route
    // AND win the argmax over all legitimate routes
    val r = routes.select(
        when(plenCol.cast("int").between(0, 32), plenCol.cast("int"))
          .otherwise(raise_error(concat(
            lit("longestPrefixMatch: plenCol must be a prefix length in [0, 32]; got "),
            plenCol.cast("string"))).cast("int"))
          .as("_plen"),
      networkCol.cast("long").as("_net"), routeIdCol.as("_rid"))
      .withColumn("_bucket",
        when(col("_net") < 0 || col("_net") >= lit(1L << 32),
          raise_error(concat(
            lit("longestPrefixMatch: networkCol must be a RAW 32-bit address in [0, 2^32) "
              + "(the CIDR base, NOT a pre-shifted bucket); got "),
            col("_net").cast("string"))).cast("long"))
          .otherwise(expr("_net div shiftleft(CAST(1 AS BIGINT), 32 - _plen)")))
      .drop("_net")
    // the SAME range guard on the keys side: an IP stored as a SIGNED
    // int32 (≥ 128.0.0.0 → negative after the long cast) would otherwise
    // hit `div`'s truncation toward zero (-1 div 2^24 = 0) and silently
    // land in bucket 0 — matching any 0.0.0.0/p route instead of erroring
    keys.select(keyCol.cast("long").as("key"))
      .withColumn("key",
        when(col("key") < 0 || col("key") >= lit(1L << 32),
          raise_error(concat(
            lit("longestPrefixMatch: keyCol must be an UNSIGNED 32-bit address in "
              + "[0, 2^32) (signed-int32 IPs go through `& 0xFFFFFFFF` first); got "),
            col("key").cast("string"))).cast("long"))
          .otherwise(col("key")))
      .crossJoin(broadcast(lens))
      .withColumn("_bucket",
        expr("key div shiftleft(CAST(1 AS BIGINT), 32 - _plen)"))
      .join(broadcast(r), Seq("_plen", "_bucket"))
      .groupBy(col("key"))
      .agg(max(struct(col("_plen"), (-col("_rid")).as("_nrid"))).as("_best"))
      .select(col("key"), (-col("_best._nrid")).as("route_id"),
        col("_best._plen").as("plen"))
  }
}
