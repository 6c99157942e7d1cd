package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.Queries._

/** Registry chunk of [[Queries.all]] — event-stream batch forms: sessionization, windows, funnels, as-of alignment (§2.6 batch analogs).
  * Split from the Queries.scala monolith (round 13) purely for review and
  * merge cost; shared helpers stay in [[Queries]] and every entry is
  * byte-identical to its pre-split form. 23 keys (22 at the split; op_stream_neardup added r15).
  */
private[graft] object QueriesEvents {
  val defs: Seq[QueryDef] = Seq(
    // ---- events: sessionization + windows (batch forms of §2.6) ----
    QueryDef("op_sessionize",
      (s, d) => Analytics.sessionizeNumeric(eventsUs(s, d),
          col("user_id"), col("ts_us"), 1800L * 1000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_id")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        m AS (SELECT user_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
            OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        t AS (SELECT user_id, ts_us,
          CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM m)
        SELECT user_id, session_id, count(*) AS n_events FROM t
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("events_window",
      // hourly buckets × event types over the data's fixed time span —
      // bounded output, single-partition sort (see orderBySmall)
      (s, d) => eventsUs(s, d)
        .groupBy(expr("ts_us div 3600000000").as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("total_value"))
        .orderBySmall(col("bucket"), col("event_type")),
      Some(s"""SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
        count(*) AS n, ${dsumSql("value", 18, 2)} AS total_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("op_fuzzy_join",
      // entity resolution: edit-distance join of customer vs supplier name
      // suffixes with prefix blocking (equi-join on the first 7 chars —
      // never a cross join), codegen'd levenshtein verify
      (s, d) => {
        val c = t(s, d, "customer")
          .select(col("c_custkey"), substring(col("c_name"), 10, 9).as("ckey"))
        val su = t(s, d, "supplier")
          .select(col("s_suppkey"), substring(col("s_name"), 10, 9).as("skey"))
        Joins.fuzzyJoin(c, su, col("ckey"), col("skey"), maxDist = 1, blockLen = 7)
          .select(col("c_custkey"), col("s_suppkey"),
            col("edit_dist").cast("int").as("edit_dist"))
          .orderBy(col("c_custkey"), col("s_suppkey"))
      },
      Some("""WITH c AS (SELECT c_custkey, substring(c_name, 10, 9) AS ckey FROM customer),
        s AS (SELECT s_suppkey, substring(s_name, 10, 9) AS skey FROM supplier)
        SELECT c_custkey, s_suppkey, CAST(levenshtein(ckey, skey) AS INTEGER) AS edit_dist
        FROM c JOIN s ON substring(ckey, 1, 7) = substring(skey, 1, 7)
        WHERE abs(len(ckey) - len(skey)) <= 1 AND levenshtein(ckey, skey) <= 1
        ORDER BY c_custkey, s_suppkey""")),

    QueryDef("op_funnel",
      // ordered conversion funnel signup→click→purchase per user: stage k
      // counts only if its FIRST occurrence is strictly after stage k-1's.
      // One conditional aggregation — single shuffle, no per-stage joins
      (s, d) => Analytics.funnelStages(eventsUs(s, d), col("user_id"),
          col("event_type"), col("ts_us"), Seq("signup", "click", "purchase"))
        .withColumnRenamed("entity", "user_id")
        .orderBy(col("user_id")),
      Some("""WITH f AS (SELECT user_id,
          min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
          min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t1,
          min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
        FROM events GROUP BY 1)
        SELECT user_id, t0, t1, t2,
          CASE WHEN t0 IS NULL THEN 0
               WHEN t1 IS NULL OR t0 >= t1 THEN 1
               WHEN t2 IS NULL OR t1 >= t2 THEN 2
               ELSE 3 END AS reached
        FROM f ORDER BY user_id""")),

    QueryDef("op_event_deltas",
      // lead/lag surface: per-user inter-event gaps in µs (lag over one
      // shuffle on the user key) — the latency/recency building block
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        eventsUs(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        FROM events ORDER BY user_id, ts_us, event_id""")),

    QueryDef("op_scd2",
      // slowly-changing-dimension type-2 build: each per-user event is an
      // attribute-change record; valid_to = lead(ts) closes the interval,
      // NULL marks the current version (the warehouse dimension-versioning
      // primitive behind every point-in-time join). One window shuffle on
      // the natural key; output is the per-attribute interval audit with
      // exact integer-µs active durations.
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        eventsUs(s, d)
          .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
          .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_current"),
            sum(when(col("valid_to").isNotNull, col("valid_to") - col("ts_us"))).as("active_us"))
          .orderBySmall(col("event_type"))
      },
      Some("""WITH d AS (SELECT event_type, epoch_us(ts) AS ts_us,
          lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to
        FROM events)
        SELECT event_type, count(*) AS n_intervals,
          CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
          CAST(sum(CASE WHEN valid_to IS NOT NULL THEN valid_to - ts_us END) AS BIGINT) AS active_us
        FROM d GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_scd2_lookup",
      // point-in-time lookup against the SCD2 dimension (op_scd2's
      // intervals): for each user, "what was the attribute at time T?"
      // with T = the integer-µs midpoint of the user's activity — the
      // as-of semantics every warehouse fact⋈dimension join needs for
      // non-current history. The probe joins the dimension on the USER
      // key (equi-join; the interval predicate is a residual filter, so
      // the join is never a cartesian and shuffles on the natural key
      // both sides already share). Exactly one interval matches per user
      // — [valid_from, valid_to) partitions the timeline — so n_users
      // sums to the user count, pinned by construction
      (s, d) => {
        val ev = eventsUs(s, d)
          .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val dim = ev.withColumn("valid_to", lead(col("ts_us"), 1).over(w))
        val probes = ev.groupBy(col("user_id"))
          .agg(expr("(min(ts_us) + max(ts_us)) div 2").as("t_probe"))
        probes.join(dim, Seq("user_id"))
          .where(col("ts_us") <= col("t_probe") &&
            (col("valid_to").isNull || col("t_probe") < col("valid_to")))
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
          .orderBySmall(col("event_type"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
        dim AS (SELECT user_id, event_type, ts_us,
            lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to FROM ev),
        pr AS (SELECT user_id, (min(ts_us) + max(ts_us)) // 2 AS t_probe FROM ev GROUP BY 1)
        SELECT d.event_type, count(*) AS n_users
        FROM pr JOIN dim d ON d.user_id = pr.user_id
          AND d.ts_us <= pr.t_probe AND (d.valid_to IS NULL OR pr.t_probe < d.valid_to)
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_time_travel",
      // time travel + CDC through the driver gate: base commits as v0,
      // a COW merge commits v1, then the query reads BOTH pinned
      // snapshots (snapshotAt — later commits can't change what v0
      // reads) plus the version diff, as one long-format audit. The
      // oracle derives every stage relationally: v0 = base, v1 = the
      // MERGE result, cdc_insert = exactly the update rows (keys are
      // unique and every update changes the row), cdc_delete = the
      // replaced old rows — the commit protocol, manifest pinning, and
      // EXCEPT ALL diff must all be invisible in the data. Same
      // tmp-root + stale-sweep pattern as op_merge_acid.
      (s, d) => {
        val root = freshScratchRoot(s, "tt", d)
        val base = mergeFixtureBase(s, d)
        val updates = cdcFixtureUpdates(base) // negative -k-1 insert keys, see Queries
        val mt = ManifestTable(s, root)
        val v0 = mt.overwrite(base)
        val v1 = mt.merge(updates, Seq("o_orderkey"))
        def stageAgg(df: DataFrame, stage: Column) = df.agg(
          count(lit(1)).as("n_rows"), dsum(col("o_totalprice"), 2).as("sum_price"))
          .select(stage.as("stage"), col("n_rows"), col("sum_price"))
        stageAgg(mt.snapshotAt(v0), lit("v0"))
          .unionByName(stageAgg(mt.snapshotAt(v1), lit("v1")))
          .unionByName(mt.diff(v0, v1).groupBy(col("_change"))
            .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice"), 2).as("sum_price"))
            .select(concat(lit("cdc_"), col("_change")).as("stage"),
              col("n_rows"), col("sum_price")))
          .orderBySmall(col("stage"))
      },
      Some(s"""WITH $cdcFixtureSql
        SELECT 'v0' AS stage, count(*) AS n_rows, ${dsumSql("o_totalprice", 20, 2)} AS sum_price FROM base
        UNION ALL
        SELECT 'v1', count(*), ${dsumSql("o_totalprice", 20, 2)} FROM v1
        UNION ALL
        SELECT 'cdc_insert', count(*), ${dsumSql("o_totalprice", 20, 2)} FROM upd
        UNION ALL
        SELECT 'cdc_delete', count(*), ${dsumSql("o_totalprice", 20, 2)} FROM base WHERE o_orderkey % 10 = 0
        ORDER BY stage""")),

    QueryDef("op_group_split",
      // GROUP-INTEGRITY train/val/test split: the split key is the GROUP
      // (source domain), not the document — every doc of a domain lands
      // in ONE split, the leakage guard for near-duplicate-heavy groups
      // (the C4/url-host practice; a doc-keyed split lets near-dups of
      // one domain straddle train and eval). Same pure-projection
      // assignSplit as op_train_split, keyed on source. Output pins the
      // per-split doc/source counts AND the zero-violation check (no
      // source spans two splits) in the same row.
      (s, d) => {
        val docs = t(s, d, "documents").withColumn("split",
          Sampling.assignSplit(col("source"), Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        val per = docs.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_sources"))
        val viol = docs.groupBy(col("source"))
          .agg(countDistinct(col("split")).as("ns"))
          .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_violations"))
        per.crossJoin(broadcast(viol)).orderBySmall(col("split"))
      },
      Some("""WITH a AS (SELECT source, CASE
          WHEN ('0x' || substring(md5(source), 1, 8))::BIGINT % 100 < 80 THEN 'train'
          WHEN ('0x' || substring(md5(source), 1, 8))::BIGINT % 100 < 90 THEN 'val'
          ELSE 'test' END AS split FROM documents),
        v AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
          FROM (SELECT source, count(DISTINCT split) AS ns FROM a GROUP BY 1))
        SELECT split, count(*) AS n_docs, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          v.n_violations
        FROM a, v GROUP BY split, v.n_violations ORDER BY split""")),

    QueryDef("op_view_maintenance",
      // incremental materialized-view maintenance: a per-group
      // (count, decimal-sum) rollup of the ACID table is refreshed from
      // the v0→v1 CDC DIFF alone (Aggregates.maintainSumCount — cost
      // O(changes), never a base rescan), and the oracle is the FULL
      // recompute over v1: the delta-maintained aggregate must equal the
      // from-scratch one bit for bit, which is the entire contract of
      // view maintenance. Groups are pmod(o_orderkey, 7) so the negative
      // planted keys land in well-defined buckets both engines agree on.
      (s, d) => {
        val root = freshScratchRoot(s, "mv", d)
        val base = mergeFixtureBase(s, d)
        val updates = cdcFixtureUpdates(base) // negative -k-1 insert keys, see Queries
        val mt = ManifestTable(s, root)
        val v0 = mt.overwrite(base)
        val v1 = mt.merge(updates, Seq("o_orderkey"))
        val dec = (c: Column) => c.cast("decimal(20,2)")
        val oldAgg = mt.snapshotAt(v0)
          .groupBy(pmod(col("o_orderkey"), lit(7L)).as("g"))
          .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("sum_val"))
        val cdc = mt.diff(v0, v1).withColumn("g", pmod(col("o_orderkey"), lit(7L)))
        Aggregates.maintainSumCount(oldAgg, cdc, Seq("g"), dec(col("o_totalprice")))
          .select(col("g"), col("cnt"), col("sum_val").cast("double").as("sum_price"))
          .orderBySmall(col("g"))
      },
      Some(s"""WITH $cdcFixtureSql
        SELECT ((o_orderkey % 7) + 7) % 7 AS g, count(*) AS cnt,
          ${dsumSql("o_totalprice", 20, 2)} AS sum_price
        FROM v1 GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_cooccurrence",
      // market-basket co-occurrence with Jaccard affinity: distinct
      // (user, item) pairs self-joined on the user key → support per item
      // pair (a < b), plus per-item user counts and the exact-integer-fed
      // Jaccard = support / (n_a + n_b − support). The item vocabulary is
      // bounded, so the pair table is |items|²-bounded at ANY corpus size,
      // the per-item count side broadcasts, and the self-join is an
      // equi-join on user — never a cartesian (the same argument as the
      // LSH band joins, specialized to a categorical vocabulary).
      (s, d) => {
        val ui = eventsUs(s, d).select(col("user_id"), col("event_type")).distinct()
        val a = ui.select(col("user_id"), col("event_type").as("item_a"))
        val b = ui.select(col("user_id"), col("event_type").as("item_b"))
        val pairs = a.join(b, Seq("user_id")).where(col("item_a") < col("item_b"))
          .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("support"))
        val n = ui.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        pairs
          .join(broadcast(n.select(col("event_type").as("item_a"), col("n").as("n_a"))), "item_a")
          .join(broadcast(n.select(col("event_type").as("item_b"), col("n").as("n_b"))), "item_b")
          .select(col("item_a"), col("item_b"), col("support"), col("n_a"), col("n_b"),
            (col("support").cast("double") /
              (col("n_a") + col("n_b") - col("support")).cast("double")).as("jaccard"))
          .orderBySmall(col("item_a"), col("item_b"))
      },
      Some("""WITH ui AS (SELECT DISTINCT user_id, event_type FROM events),
        p AS (SELECT a.event_type AS item_a, b.event_type AS item_b, count(*) AS support
          FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2),
        n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ui GROUP BY 1)
        SELECT item_a, item_b, support, na.n AS n_a, nb.n AS n_b,
          CAST(support AS DOUBLE) / CAST(na.n + nb.n - support AS DOUBLE) AS jaccard
        FROM p JOIN n na ON p.item_a = na.event_type JOIN n nb ON p.item_b = nb.event_type
        ORDER BY item_a, item_b""")),

    QueryDef("op_triangles",
      // distributed triangle count + clustering coefficient
      // (Analytics.triangleStats: degree-ordered orientation, two joins)
      // on the circulant graph C_N(1,2) derived from the customer keys
      // (edges c→c+1, c→c+2 mod N) — deterministic, SF-growing, known
      // shape (~one triangle per vertex). The oracle enumerates with the
      // simpler id-ascending orientation: the COUNT is invariant to the
      // orientation order (every triangle has exactly one ascending
      // labeling under ANY total order), which is itself part of what the
      // hash compare checks.
      (s, d) => {
        val base = t(s, d, "customer").select(col("c_custkey").as("c"))
        val mx = base.agg(max(col("c")).as("mx"))
        def ring(step: Int) = base.crossJoin(broadcast(mx))
          .select(col("c").as("src"), pmod(col("c") + step, col("mx") + 1).as("dst"))
        Analytics.triangleStats(ring(1).unionByName(ring(2)), "src", "dst")
      },
      Some("""WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
        er0 AS (SELECT c_custkey AS u, (c_custkey + 1) % (m + 1) AS v FROM customer, mx
          UNION ALL SELECT c_custkey, (c_custkey + 2) % (m + 1) FROM customer, mx),
        e0 AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM er0 WHERE u <> v),
        deg AS (SELECT x, count(*) AS d
          FROM (SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0) GROUP BY 1),
        tri AS (SELECT count(*) AS t FROM e0 x JOIN e0 y ON x.v = y.u
          JOIN e0 z ON z.u = x.u AND z.v = y.v),
        w AS (SELECT CAST(count(*) AS BIGINT) AS nv, CAST(sum(d) // 2 AS BIGINT) AS ne,
            CAST(sum(d * (d - 1) // 2) AS BIGINT) AS w FROM deg)
        SELECT w.nv AS n_vertices, w.ne AS n_edges, w.w AS n_wedges,
          CAST(tri.t AS BIGINT) AS n_triangles,
          CASE WHEN w.w > 0 THEN CAST(3 * tri.t AS DOUBLE) / CAST(w.w AS DOUBLE)
            ELSE 0.0 END AS clustering
        FROM w, tri""")),

    QueryDef("op_ntile",
      // decile bucketing of order values per priority class — ntile is the
      // per-group quantile-assignment surface (one window shuffle)
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            ntile(10).over(w).as("decile"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
        CAST(ntile(10) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
        FROM orders ORDER BY o_orderkey""")),

    QueryDef("op_skew_profile",
      // pre-join skew diagnostic: per-key count distribution reduced to
      // the straggler predictors (max/avg ratio, exact heaviest key)
      (s, d) => Analytics.skewProfile(t(s, d, "lineitem"), col("l_orderkey")),
      Some("""WITH c AS (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
        s AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows, max(n) AS max_key_rows FROM c)
        SELECT s.n_keys, s.n_rows, s.max_key_rows, min(c.k) AS heaviest_key,
          CAST(s.max_key_rows AS DOUBLE) / (CAST(s.n_rows AS DOUBLE) / CAST(s.n_keys AS DOUBLE)) AS skew_factor
        FROM c, s WHERE c.n = s.max_key_rows
        GROUP BY 1, 2, 3""")),

    QueryDef("op_winsorize",
      // robust-stats outlier clamp: per-returnflag [p05, p95] percentile
      // band (exact linear interpolation), then decimal-exact sums of the
      // raw vs winsorized measure
      (s, d) => Analytics.winsorize(t(s, d, "lineitem"),
          col("l_returnflag"), col("l_extendedprice"), pLo = 0.05, pHi = 0.95)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_extendedprice"), 2).as("sum_raw"),
          dsum(col("_wins"), 6).as("sum_winsorized"))
        .orderBySmall(col("l_returnflag")),
      Some(s"""WITH b AS (SELECT l_returnflag AS g,
          quantile_cont(l_extendedprice, 0.05) AS lo,
          quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY 1)
        SELECT l_returnflag, count(*) AS n_rows,
          ${dsumSql("l_extendedprice", 20, 2)} AS sum_raw,
          ${dsumSql("least(greatest(l_extendedprice, lo), hi)", 24, 6)} AS sum_winsorized
        FROM lineitem JOIN b ON l_returnflag = b.g
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_cohort",
      // weekly cohort retention: users bucketed by first-event week, every
      // event counts its user into (cohort week, weeks since) — two aggs
      // and one entity-key join, the standard retention-matrix shape
      (s, d) => Analytics.cohortRetention(eventsUs(s, d), col("user_id"), col("ts_us"),
          periodLen = 7L * 86400L * 1000000L)
        .orderBySmall(col("cohort"), col("periods_since")),
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        f AS (SELECT user_id, CAST(floor(min(ts_us) / 604800000000) AS BIGINT) AS cohort
          FROM ev GROUP BY 1)
        SELECT f.cohort,
          CAST(floor(ev.ts_us / 604800000000) AS BIGINT) - f.cohort AS periods_since,
          count(DISTINCT ev.user_id) AS n_entities
        FROM ev JOIN f ON ev.user_id = f.user_id
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("op_zorder",
      // Z-order (Morton) clustering key over the customer grid points —
      // the write-time layout primitive for 2-D range pruning; the bit
      // interleave is a pure shift/mask chain mirrored exactly in SQL
      (s, d) => {
        val pts = custPoints(s, d)
        pts.select(col("c_custkey"),
            Layout.scaleToGrid(col("lat"), -60.0, 60.0, bits = 8).as("gx"),
            Layout.scaleToGrid(col("lon"), -150.0, 150.0, bits = 8).as("gy"))
          .select(col("c_custkey"), col("gx"), col("gy"),
            Layout.zValue(col("gx"), col("gy"), bits = 8).as("zval"))
          .orderBy(col("c_custkey"))
      },
      Some(s"""WITH p AS ($custPointsSql),
        g AS (SELECT c_custkey,
          ${Layout.scaleToGridSql("lat", -60.0, 60.0, bits = 8)} AS gx,
          ${Layout.scaleToGridSql("lon", -150.0, 150.0, bits = 8)} AS gy
        FROM p)
        SELECT c_custkey, gx, gy, ${Layout.zValueSql("gx", "gy", bits = 8)} AS zval
        FROM g ORDER BY c_custkey""")),

    QueryDef("op_zorder_pruned",
      // the READ half of the Z-order story (op_zorder computes the key;
      // this key proves the LAYOUT pays): write the customer grid
      // clustered by Morton z-value — repartitionByRange on z puts
      // disjoint z-ranges in separate files, sorted within — then read
      // back with a 2-D box predicate; both dimension filters push to
      // the parquet scan (PushedFilters pinned in PlanSpec) where file/
      // row-group min-max stats skip non-overlapping z-runs. The oracle
      // replays the box over the source table, so clustering must be
      // value-preserving
      (s, d) => {
        val dir = scratchDir("zord", d)
        val pts = custPoints(s, d).select(col("c_custkey"),
          Layout.scaleToGrid(col("lat"), -60.0, 60.0, bits = 8).as("gx"),
          Layout.scaleToGrid(col("lon"), -150.0, 150.0, bits = 8).as("gy"))
        Layout.writeZOrdered(pts, dir, col("gx"), col("gy"), bits = 8, numFiles = 8)
        s.read.parquet(dir)
          .where(col("gx").between(64, 127) && col("gy").between(32, 95))
          .agg(count(lit(1)).as("n_inside"),
            sum(col("c_custkey")).as("sum_key"),
            min(col("gx")).as("min_gx"), max(col("gy")).as("max_gy"))
          .orderBySmall(col("n_inside"))
      },
      Some(s"""WITH p AS ($custPointsSql),
          g AS (SELECT c_custkey,
            ${Layout.scaleToGridSql("lat", -60.0, 60.0, bits = 8)} AS gx,
            ${Layout.scaleToGridSql("lon", -150.0, 150.0, bits = 8)} AS gy
          FROM p)
        SELECT count(*) AS n_inside, CAST(sum(c_custkey) AS BIGINT) AS sum_key,
          min(gx) AS min_gx, max(gy) AS max_gy
        FROM g WHERE gx BETWEEN 64 AND 127 AND gy BETWEEN 32 AND 95
        ORDER BY n_inside""")),

    QueryDef("op_bucketed_join",
      // bucketed co-located join: BOTH sides land bucketed+sorted on the
      // join key (Layout.writeBucketed), so the join itself plans NO
      // shuffle exchange — the write-once / join-many amortization that is
      // the top lever for repeated 100-TB fact⋈fact joins. The oracle
      // checks the JOIN RESULT against the original parquet; the
      // exchange-free plan shape is pinned in PlanSpec (a result check
      // can't see the shuffle). Bucket files live under the JVM tmpdir,
      // keyed by SF dir AND pid (two concurrent harness processes on the
      // same SF must not overwrite each other's in-flight bucket files);
      // dead pids' roots are reclaimed by freshScratchRoot's shared
      // memoized sweep, same as op_merge_acid/op_time_travel.
      (s, d) => {
        // basename, not the full path: keeps the scratch prefix identical
        // to the pre-r15 inline form (graft_bucketed_<basename>_<pid>) so
        // dirs leaked by earlier builds still match the sweep and get
        // reclaimed; the pid suffix + per-invocation wipe keep two
        // processes on same-named SF dirs from colliding regardless
        val root = freshScratchRoot(s, "bucketed", new java.io.File(d).getName)
        Layout.writeBucketed(
          t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          "graft_b_orders", s"$root/orders", numBuckets = 8, keys = Seq("o_custkey"))
        Layout.writeBucketed(
          t(s, d, "customer").select("c_custkey", "c_mktsegment"),
          "graft_b_customer", s"$root/customer", numBuckets = 8, keys = Seq("c_custkey"))
        s.table("graft_b_orders")
          .join(s.table("graft_b_customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 2).as("sum_price"))
          .orderBySmall(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
          ${dsumSql("o_totalprice", 20, 2)} AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_regression",
      // distributed OLS + correlation from EXACT moments: every sum is a
      // decimal (order-independent partial aggregation), and the slope/
      // intercept/corr formulas are evaluated as the same IEEE double
      // expression tree in both engines (+,-,*,/,sqrt are exactly rounded,
      // so identical operands + identical shape = identical bits). The
      // built-in corr()/regr_slope() are float-accumulation order-dependent
      // and would hash-flake — this is the deterministic form.
      // Cast scales are chosen so NO decimal cast ever rounds near a
      // boundary: quantity is integer-valued, price has exactly 2dp, so
      // x·y has 2dp, x² is integer — and each product's double ulp
      // (≤2e-6 at y²~1e10) is far below the half-step of its cast
      // scale. A uniform decimal(30,6) here actually FAILED: y²'s ulp sits
      // AT the 6dp quantum, so HALF_UP (Spark) vs HALF_EVEN (DuckDB)
      // diverged on boundary rows.
      // (decimal widths differ from the SQL mirror's — both are exact for
      // this data, and exact sums cast to double identically)
      // yyScale capped to 0dp (round-9 hardening): Σprice² per group is
      // ~19 significant digits at 4dp — outside the 2⁵³ window where the
      // engines' decimal→double conversions agree bitwise. Passing today
      // at 4dp was data-luck; the quantized 0dp moment is portable by
      // construction and survives a testdata regeneration.
      (s, d) => Analytics.regressionByGroup(t(s, d, "lineitem"),
          col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          yScale = 2, yyScale = 0)
        .withColumnRenamed("grp", "l_returnflag")
        .orderBySmall(col("l_returnflag")),
      Some("""WITH m AS (SELECT l_returnflag,
          CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,0))) AS DOUBLE) AS sx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
          CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS sxy,
          CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(10,0))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,0))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1),
        r AS (SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
          (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
          (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr,
          sx, sy, n FROM m)
        SELECT l_returnflag, n_rows, slope,
          (sy - slope * sx) / n AS intercept, corr
        FROM r ORDER BY 1""")),

    QueryDef("op_corr_matrix",
      // one-pass pairwise correlation matrix (exact decimal moments,
      // shared IEEE formula — the op_regression technique generalized to
      // k columns / one aggregation). Scales: quantity integer, price 2dp,
      // discount/tax 2dp. price² is capped to 0dp: its exact 4dp sum needs
      // 19 significant digits, past the 2⁵³ window where the two engines'
      // decimal→double conversions agree bitwise (measured 1-ulp split at
      // sf0.1); the 0dp quantized moment converts exactly in both.
      (s, d) => Analytics.correlationMatrix(t(s, d, "lineitem"),
          Seq("l_quantity" -> 0, "l_extendedprice" -> 2, "l_discount" -> 2, "l_tax" -> 2),
          productScaleOverride = Map(("l_extendedprice", "l_extendedprice") -> 0))
        .orderBySmall(col("col_a"), col("col_b")),
      Some {
        val cols = Seq("l_quantity" -> 0, "l_extendedprice" -> 2, "l_discount" -> 2, "l_tax" -> 2)
        val cap = Map((1, 1) -> 0)
        val singles = cols.indices.map { i =>
          s"CAST(sum(CAST(${cols(i)._1} AS DECIMAL(24,${cols(i)._2}))) AS DOUBLE) AS s$i" }
        val prods = for { i <- cols.indices; j <- cols.indices if i <= j } yield
          s"CAST(sum(CAST(${cols(i)._1} * ${cols(j)._1} AS DECIMAL(30,${cap.getOrElse((i, j), cols(i)._2 + cols(j)._2)}))) AS DOUBLE) AS p${i}_$j"
        val pairRows = (for { i <- cols.indices; j <- cols.indices if i < j } yield
          s"""SELECT '${cols(i)._1}' AS col_a, '${cols(j)._1}' AS col_b,
            (n * p${i}_$j - s$i * s$j) /
              sqrt((n * p${i}_$i - s$i * s$i) * (n * p${j}_$j - s$j * s$j)) AS corr
          FROM m""").mkString(" UNION ALL ")
        s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
            ${(singles ++ prods).mkString(", ")}
          FROM lineitem)
          $pairRows ORDER BY 1, 2"""
      }),

    QueryDef("op_gapfill",
      // time-series densification: per event type, every hourly bucket
      // between that type's first and last event exists in the output with
      // a zero count where no events landed — sequence+explode generates
      // the grid distributively (no driver-side range materialization)
      (s, d) => {
        val counts = eventsUs(s, d)
          .groupBy(col("event_type"), expr("ts_us div 3600000000").as("bucket"))
          .agg(count(lit(1)).as("n"))
        val spans = counts.groupBy(col("event_type"))
          .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
        val grid = spans.select(col("event_type"),
          explode(sequence(col("b0"), col("b1"))).as("bucket"))
        // grid cardinality = types × hourly buckets of the data's FIXED
        // time span — bounded at any SF, so the single-partition sort
        // applies (the heavy per-event aggregation sits below the join)
        grid.join(counts, Seq("event_type", "bucket"), "left")
          .select(col("event_type"), col("bucket"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBySmall(col("event_type"), col("bucket"))
      },
      Some("""WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket, count(*) AS n
          FROM events GROUP BY 1, 2),
        s AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM c GROUP BY 1),
        g AS (SELECT event_type, unnest(generate_series(b0, b1)) AS bucket FROM s)
        SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
        FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.bucket = c.bucket
        ORDER BY 1, 2""")),

    QueryDef("op_stream_neardup",
      // Streaming history-dedup under the driver oracle (VERDICT r14 item
      // 6): the documents corpus (bounded to doc_id < 1200, collected to
      // feed MemoryStream — ≤ 1200 rows, a protocol-certification key like
      // the emb_ samples) is REPLAYED as three real micro-batches
      // (doc_id % 3, in order) through Streaming.nearDupFilterSink — the
      // full composed surface: per-batch MinHash signing, banded in-batch
      // shield with min-id transitive cluster reps, the pair-level history
      // probe against the ManifestTable state, the idempotent state
      // append — with each batch's accepted rows landed through the
      // BATCH-TOKEN log (appendOnce). After the stream, batch 0's token is
      // REPLAYED with a poison row: a broken token protocol would admit it
      // and break the hash. Output: per-batch (n_docs, n_accepted,
      // n_dropped) + the state table's total row count (4 band rows per
      // accepted doc); the oracle replays signing, banding, the ≥ 4-of-8
      // agreement criterion, the recursive min-id cluster resolution, and
      // both sequential history probes in SQL, so an accept/drop drift in
      // ANY stage of ANY batch breaks the hash.
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        val root = freshScratchRoot(s, "snd", d)
        val sigTable = ManifestTable(s, root + "/state")
        val accTable = ManifestTable(s, root + "/accepted")
        val sample = t(s, d, "documents").where(col("doc_id") < 1200)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .collect().sortBy(_._1)
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val input = MemoryStream[(Long, String)]
        // tokens key on the STREAM's micro-batch id (onAccepted's second
        // argument), not a sink-side counter: a checkpoint-recovery replay
        // re-presents the same id and the token no-ops — the identity
        // being certified
        val q = graft.streaming.Streaming.nearDupFilterSink(
            input.toDF().toDF("doc_id", "text"), "doc_id", "text", sigTable,
            onAccepted = (b, batchId) => {
              accTable.appendOnce(b.withColumn("batch", pmod(col("doc_id"), lit(3L))),
                "acc", batchId = batchId)
              ()
            })
          .option("checkpointLocation", root + "/cp").start()
        try (0 until 3).foreach { i =>
          input.addData(sample.filter(_._1 % 3 == i).toSeq)
          q.processAllAvailable()
        } finally q.stop()
        // replay hazard through the batch-token log: re-committing batch
        // 0's (sinkId, batchId) must be a no-op. The poison row carries
        // batch = 0 — INSIDE the hashed census — so a broken token
        // protocol inflates batch 0's n_accepted and breaks the hash (a
        // batch value outside 0..2 would vanish in the join below and
        // certify nothing)
        accTable.appendOnce(Seq((-1L, "replayed", 0L)).toDF("doc_id", "text", "batch"),
          "acc", batchId = 0L)
        // single-pass census: the previous docs⋈accepted left join +
        // state-count crossJoin paid two broadcast/subquery driver jobs on
        // top of the final save. One tagged UNION → one hash agg (≤4
        // groups) → an all-rows window carrying the state total → the
        // n_docs>0 filter reproduces the left join EXACTLY (an accepted
        // batch value absent from documents — the out-of-range poison
        // shape — still vanishes, certifying nothing by accident).
        val tagged = t(s, d, "documents").where(col("doc_id") < 1200)
          .select(pmod(col("doc_id"), lit(3L)).as("batch"),
            lit(1L).as("_d"), lit(0L).as("_a"), lit(0L).as("_s"))
          .unionAll(accTable.snapshot().select(col("batch"),
            lit(0L).as("_d"), lit(1L).as("_a"), lit(0L).as("_s")))
          .unionAll(sigTable.snapshot().select(lit(-1L).as("batch"),
            lit(0L).as("_d"), lit(0L).as("_a"), lit(1L).as("_s")))
        tagged.groupBy(col("batch"))
          .agg(sum(col("_d")).as("n_docs"), sum(col("_a")).as("n_accepted"),
            sum(col("_s")).as("_ns"))
          .withColumn("n_state_rows",
            sum(col("_ns")).over(org.apache.spark.sql.expressions.Window
              .partitionBy().rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.unboundedFollowing)))
          .where(col("n_docs") > 0)
          .select(col("batch"), col("n_docs"), col("n_accepted"),
            (col("n_docs") - col("n_accepted")).as("n_dropped"), col("n_state_rows"))
          .orderBySmall(col("batch"))
      },
      Some(streamNearDupOracleSql(minAgree = 4, batches = 3, idBound = 1200))),
  )

  /** DuckDB replay of [[graft.streaming.Streaming.nearDupFilterSink]]'s
    * accept/drop protocol over `batches` sequential micro-batches
    * (doc_id % batches): MinHash signing (with the sink's short-doc
    * whole-text shingle rule), banded candidate generation, the
    * signature-agreement criterion (≥ `minAgree` of `numHashes` slots —
    * the sink's fraction-≥-threshold form in integer terms), recursive
    * min-id cluster resolution for the in-batch shield, and each batch's
    * history probe against the union of earlier batches' acceptances.
    * Heavily-referenced CTEs are MATERIALIZED — inlined re-expansion of
    * the signing pipeline measured >200× slower.
    */
  private def streamNearDupOracleSql(minAgree: Int, batches: Int, idBound: Int): String = {
    import graft.ops.Dedup.{MinhashNumHashes => numHashes, MinhashRowsPerBand => rowsPerBand,
      MinhashShingleN => shingleN}
    def agree(sa: String, sb: String) =
      "(" + (0 until numHashes)
        .map(i => s"(CASE WHEN $sa.mh$i = $sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ") + s") >= $minAgree"
    def histDup(b: Int, accUnion: String) =
      s"""(SELECT DISTINCT x.doc_id FROM bk x
        JOIN bk h ON x.band = h.band AND x.bucket = h.bucket AND x.doc_id <> h.doc_id
        JOIN sig sa ON sa.doc_id = x.doc_id
        JOIN sig sb ON sb.doc_id = h.doc_id
        WHERE x.b = $b AND x.doc_id IN (SELECT doc_id FROM surv WHERE b = $b)
          AND h.doc_id IN ($accUnion) AND ${agree("sa", "sb")})"""
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { k =>
      val cc = (0 until rowsPerBand).map(r => s"mh${k * rowsPerBand + r}").mkString(" || ")
      s"SELECT doc_id, b, $k AS band, md5($cc) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    val mh = (0 until numHashes)
      .map(i => s"min(substring(md5(shingle), ${i * 4 + 1}, 4)) AS mh$i").mkString(", ")
    val shingleExpr = (0 until shingleN).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    // sequential history probes, unrolled per batch
    val accCtes = (0 until batches).map { b =>
      if (b == 0) s"acc0 AS (SELECT doc_id FROM surv WHERE b = 0)"
      else {
        val accUnion = (0 until b).map(j => s"SELECT doc_id FROM acc$j").mkString(" UNION ALL ")
        s"""hd$b AS ${histDup(b, accUnion)},
        acc$b AS (SELECT doc_id FROM surv WHERE b = $b
          AND doc_id NOT IN (SELECT doc_id FROM hd$b))"""
      }
    }.mkString(",\n    ")
    val accCounts = (0 until batches)
      .map(b => s"(SELECT count(*) FROM acc$b) AS a$b").mkString(", ")
    val accCase = "CASE t.b " + (0 until batches - 1)
      .map(b => s"WHEN $b THEN (SELECT a$b FROM tot)").mkString(" ") +
      s" ELSE (SELECT a${batches - 1} FROM tot) END"
    val accSum = (0 until batches).map(b => s"a$b").mkString(" + ")
    s"""WITH RECURSIVE tk AS (
      SELECT doc_id, doc_id % $batches AS b,
        list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
      FROM documents WHERE doc_id < $idBound),
    shl AS (SELECT doc_id, b, CASE WHEN len(toks) >= $shingleN
        THEN list_distinct([$shingleExpr
          FOR i IN generate_series(1, len(toks) - ${shingleN - 1})])
        ELSE [array_to_string(toks, ' ')] END AS shingles FROM tk),
    sh AS (SELECT doc_id, b, unnest(shingles) AS shingle FROM shl),
    sig AS MATERIALIZED (SELECT doc_id, any_value(b) AS b, $mh FROM sh GROUP BY doc_id),
    bk AS MATERIALIZED ($bands),
    pin AS MATERIALIZED (SELECT DISTINCT x.b, x.doc_id AS da, y.doc_id AS db
      FROM bk x JOIN bk y ON x.b = y.b AND x.band = y.band AND x.bucket = y.bucket
        AND x.doc_id < y.doc_id
      JOIN sig sa ON sa.doc_id = x.doc_id JOIN sig sb ON sb.doc_id = y.doc_id
      WHERE ${agree("sa", "sb")}),
    sym AS (SELECT b, da AS a, db AS r FROM pin UNION ALL SELECT b, db, da FROM pin),
    reach AS (SELECT b, a, r FROM sym
      UNION
      SELECT r1.b, r1.a, s.r FROM reach r1 JOIN sym s ON s.b = r1.b AND s.a = r1.r),
    rep AS (SELECT b, a AS doc_id, least(a, min(r)) AS rep FROM reach GROUP BY b, a),
    dropsin AS (SELECT b, doc_id FROM rep WHERE rep < doc_id),
    surv AS MATERIALIZED (SELECT doc_id, b FROM sig
      WHERE doc_id NOT IN (SELECT doc_id FROM dropsin)),
    $accCtes,
    tot AS (SELECT $accCounts)
    SELECT t.b AS batch, count(*) AS n_docs,
      $accCase AS n_accepted,
      count(*) - ($accCase) AS n_dropped,
      (SELECT CAST($numBands * ($accSum) AS BIGINT) FROM tot) AS n_state_rows
    FROM tk t GROUP BY t.b ORDER BY batch"""
  }
}
