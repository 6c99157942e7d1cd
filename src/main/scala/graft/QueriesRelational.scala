package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.Geo
import graft.Queries._

/** Registry chunk of [[Queries.all]] — TPC-H analog completions and relational additions (q2/q7/q8/q9/q11..q22, interchange surfaces, ACID/table-format operations).
  * Split from the Queries.scala monolith (round 13) purely for review and
  * merge cost; shared helpers stay in [[Queries]] and every entry is
  * byte-identical to its pre-split form. 45 keys.
  */
private[graft] object QueriesRelational {
  val defs: Seq[QueryDef] = Seq(
    // ---- TPC-H-shaped relational additions (q7/q12/q16/q22 analogs on
    // the driver schema — no partsupp/shipmode/phone columns, so each
    // keeps its original JOIN/AGG SHAPE with the available columns) ----
    QueryDef("q7_nation_volume",
      // q7: revenue volume between two specific nations by ship year —
      // the 5-way join with a symmetric nation-pair predicate; growing
      // tables sort-merge, the 25-row nation dim broadcasts twice
      (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val su = t(s, d, "supplier")
        // the symmetric pair predicate implies supp_nation ∈ {N1,N2} and
        // cust_nation ∈ {N1,N2} — push each IN into its dim BEFORE the
        // fact joins (2 of 25 nations survive → supplier/customer shrink
        // ~12.5× ahead of the growing-table sort-merges; the exact pair
        // condition still applies below). The optimizer cannot split the
        // cross-side OR itself; r20 A/B: 0.83 → 0.53 s warm.
        val n1 = t(s, d, "nation").select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))
          .where(col("supp_nation").isin("NATION_1", "NATION_2"))
        val n2 = t(s, d, "nation").select(col("n_nationkey").as("_cnk"), col("n_name").as("cust_nation"))
          .where(col("cust_nation").isin("NATION_1", "NATION_2"))
        val sf = su.join(broadcast(n1), col("s_nationkey") === col("_snk"))
        val cf = c.join(broadcast(n2), col("c_nationkey") === col("_cnk"))
        l.join(sf.hint("merge"), col("l_suppkey") === col("s_suppkey"))
          .join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .join(cf.hint("merge"), col("o_custkey") === col("c_custkey"))
          .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate").cast("date")).cast("long").as("l_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBySmall(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue, count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    QueryDef("q12_late_shipments",
      // q12's shape (lineitem⋈orders, conditional priority counts) with
      // lateness = shipped >90 days after order date standing in for the
      // missing commit/receipt dates; integer day arithmetic
      (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val late = datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")) > 90
        l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(late.as("is_late"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("low_line_count"))
          .orderBySmall(col("is_late"))
      },
      Some("""SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90 AS is_late,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("q16_supplier_reach",
      // q16's shape without partsupp: supplier reach per (brand, size
      // band) derived from SHIPPED pairs (distinct l_partkey×l_suppkey),
      // excluding negative-balance suppliers via anti join — distinct
      // count + NOT-IN-as-anti-join
      (s, d) => {
        val ps = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val bad = t(s, d, "supplier").where(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("_bad"))
        val p = t(s, d, "part")
        ps.join(bad.hint("merge"), col("l_suppkey") === col("_bad"), "left_anti")
          .join(p.hint("merge"), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), (col("p_size") / lit(10)).cast("long").as("size_band"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
            countDistinct(col("l_partkey")).as("part_cnt"))
          .orderBySmall(col("p_brand"), col("size_band"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        ok AS (SELECT ps.l_partkey, ps.l_suppkey FROM ps
          WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = ps.l_suppkey AND s_acctbal < 0))
        SELECT p_brand, CAST(p_size // 10 AS BIGINT) AS size_band,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
          CAST(count(DISTINCT l_partkey) AS BIGINT) AS part_cnt
        FROM ok JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q22_dormant_value",
      // q22's shape: above-average-balance customers with NO orders
      // (scalar avg subquery → anti join), grouped by nation band;
      // the avg is a decimal-exact sum → one division, and the balance
      // compare runs against that single scalar
      (s, d) => {
        val c = t(s, d, "customer")
        val avgBal = c.where(col("c_acctbal") > 0)
          .agg((dsum(col("c_acctbal"), 2).cast("double") /
            count(lit(1)).cast("double")).as("_avg"))
        // dormant = no orders in the trailing window (every synthetic
        // customer has SOME order, so the classic no-orders-ever form
        // would return an empty — trivially matching — result)
        val o = t(s, d, "orders")
          .where(col("o_orderdate") >= expr("TIMESTAMP_NTZ '1999-01-01 00:00:00'"))
          .select(col("o_custkey")).distinct()
        c.crossJoin(broadcast(avgBal))
          .where(col("c_acctbal") > col("_avg"))
          .join(o.hint("merge"), col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy((col("c_nationkey") % 10).as("nation_band"))
          .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal"), 2).as("totacctbal"))
          .orderBySmall(col("nation_band"))
      },
      Some(s"""WITH a AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_bal
          FROM customer WHERE c_acctbal > 0)
        SELECT c_nationkey % 10 AS nation_band, count(*) AS numcust,
          ${dsumSql("c_acctbal", 20, 2)} AS totacctbal
        FROM customer, a
        WHERE c_acctbal > a.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_jdbc_roundtrip",
      // relational-store interchange: write the projected documents table
      // into a relational database over JDBC, read it back as a
      // PARTITIONED JDBC scan (4 range partitions on doc_id — the
      // parallel-ingest shape for production databases), aggregate; the
      // oracle aggregates the original parquet, so a JDBC type-mapping
      // or partition-boundary bug breaks the hash. The endpoint is
      // ENV-GATED: set SPARK_GRAFT_JDBC_URL (e.g.
      // "jdbc:postgresql://host/db") + SPARK_GRAFT_JDBC_DRIVER [+
      // SPARK_GRAFT_JDBC_USER / SPARK_GRAFT_JDBC_PASSWORD] to run the
      // SAME key against a real server (the reference serves from
      // postgres:13 — /root/reference/docker-compose.yaml); the default
      // is embedded Derby, which needs no server in this sandbox.
      (s, d) => {
        val dir = scratchDir("jdbc", d)
        val url = sys.env.getOrElse("SPARK_GRAFT_JDBC_URL",
          s"jdbc:derby:$dir/db;create=true")
        val driver = sys.env.getOrElse("SPARK_GRAFT_JDBC_DRIVER",
          "org.apache.derby.jdbc.EmbeddedDriver")
        val props = new java.util.Properties()
        props.setProperty("driver", driver)
        sys.env.get("SPARK_GRAFT_JDBC_USER").foreach(props.setProperty("user", _))
        sys.env.get("SPARK_GRAFT_JDBC_PASSWORD").foreach(props.setProperty("password", _))
        // per-process table name on an EXTERNAL server: the Derby default
        // is already PID-isolated via scratchDir, but a shared postgres
        // endpoint is not — two concurrent runs overwrite-racing one fixed
        // "docs" table would read each other's partial writes
        val table =
          if (sys.env.contains("SPARK_GRAFT_JDBC_URL"))
            s"docs_${ProcessHandle.current().pid()}"
          else "docs"
        def writeTable(): Unit =
          t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
            .write.mode("overwrite").jdbc(url, table, props)
        def readBack(): org.apache.spark.sql.DataFrame = {
          val maxId = t(s, d, "documents").agg(max(col("doc_id"))).head().getLong(0)
          val reader = s.read.format("jdbc")
            .option("url", url).option("dbtable", table)
            .option("driver", driver)
          sys.env.get("SPARK_GRAFT_JDBC_USER")
            .foreach(u => reader.option("user", u))
          sys.env.get("SPARK_GRAFT_JDBC_PASSWORD")
            .foreach(pw => reader.option("password", pw))
          reader
            .option("partitionColumn", "doc_id")
            .option("lowerBound", 0L).option("upperBound", math.max(maxId, 1L))
            .option("numPartitions", 4)
            .load()
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
            .orderBySmall(col("source"))
        }
        // external endpoint: the per-PID table fixed the concurrent-run
        // race but must not leak one table per run on a SHARED server —
        // materialize the (few-row) aggregate eagerly, then drop. The
        // finally covers EVERYTHING from the write on (the write can fail
        // mid-table; the maxId job and the reader's analysis are separate
        // Spark actions): PIDs don't recur, so a table leaked by any
        // failure after a successful CREATE would never be overwritten or
        // dropped again. The default embedded-Derby path keeps the lazy
        // plan: its scratch dir is PID-scoped and vanishes with the run,
        // and skipping the extra localCheckpoint job keeps the bench
        // posture unchanged.
        if (sys.env.contains("SPARK_GRAFT_JDBC_URL")) {
          try {
            writeTable()
            readBack().localCheckpoint()
          } finally org.apache.spark.sql.GraftBridge.jdbcDropIfExists(url, table, props)
        } else {
          writeTable()
          readBack()
        }
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_attribution_linear",
      // linear (equal-split) multi-touch attribution: each purchase
      // splits one unit of credit equally across ALL its strictly-prior
      // touches, in INTEGER MILLIONTHS (10⁶ div n per touch, remainder
      // to the most recent touch — totals stay exact integers; decimal
      // division scales differ across engines, integer credit does not).
      // Running per-channel touch counts + the last-touch channel come
      // from one user-timeline window pass; per-channel totals follow
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        def touches(ch: String) =
          sum(when(col("event_type") === ch, 1L).otherwise(0L)).over(w)
        val lastTouch = last(when(col("event_type").isin("view", "click", "signup"),
          col("event_type")), ignoreNulls = true).over(w)
        val purchases = eventsUs(s, d)
          .select(col("event_id"), col("event_type"),
            touches("view").as("_tv"), touches("click").as("_tc"),
            touches("signup").as("_ts"), lastTouch.as("_last"))
          .where(col("event_type") === "purchase")
          .withColumn("_n", col("_tv") + col("_tc") + col("_ts"))
          .where(col("_n") > 0)
          .withColumn("_base", expr("1000000 div _n"))
          .withColumn("_rem", expr("1000000 % _n"))
        // one explode, not a 3-branch union: Spark does no cross-branch
        // common-subplan elimination, so the union form re-ran the full
        // events scan + 4-function window pass once PER channel — the
        // struct array emits all three credit rows from a single pass
        def credit(ch: String, cnt: String) =
          struct(lit(ch).as("channel"),
            (col(cnt) * col("_base") +
              when(col("_last") === ch, col("_rem")).otherwise(0L)).as("_credit"))
        val credits = purchases
          .select(explode(array(credit("view", "_tv"), credit("click", "_tc"),
            credit("signup", "_ts"))).as("_kv"))
          .select(col("_kv.channel").as("channel"), col("_kv._credit").as("_credit"))
        credits.groupBy(col("channel"))
          .agg(sum(col("_credit")).as("credit_millionths"))
          .orderBySmall(col("channel"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        p AS (SELECT event_id, event_type,
            CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              OVER w, 0) AS BIGINT) AS tv,
            CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              OVER w, 0) AS BIGINT) AS tc,
            CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              OVER w, 0) AS BIGINT) AS tsg,
            last_value(CASE WHEN event_type IN ('view','click','signup') THEN event_type END IGNORE NULLS)
              OVER w AS lastt
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        pp AS (SELECT *, tv + tc + tsg AS n, 1000000 // (tv + tc + tsg) AS base,
            1000000 % (tv + tc + tsg) AS rem
          FROM p WHERE event_type = 'purchase' AND tv + tc + tsg > 0),
        cr AS (
          SELECT 'view' AS channel, tv * base + CASE WHEN lastt = 'view' THEN rem ELSE 0 END AS credit FROM pp
          UNION ALL
          SELECT 'click', tc * base + CASE WHEN lastt = 'click' THEN rem ELSE 0 END FROM pp
          UNION ALL
          SELECT 'signup', tsg * base + CASE WHEN lastt = 'signup' THEN rem ELSE 0 END FROM pp)
        SELECT channel, CAST(sum(credit) AS BIGINT) AS credit_millionths
        FROM cr GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_asof_nearest",
      // nearest-event alignment (sensor-fusion shape): each purchase
      // aligns to its temporally NEAREST signup in EITHER direction
      // (strictly prior or strictly after, |Δ| tie → the earlier one) —
      // two frames of one user-timeline window pass, no join
      (s, d) => {
        val base = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val wPrior = base.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val wAfter = base.rowsBetween(1,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        val sigTs = when(col("event_type") === "signup", col("ts_us"))
        eventsUs(s, d)
          .select(col("event_id"), col("event_type"), col("ts_us"),
            last(sigTs, ignoreNulls = true).over(wPrior).as("_prior"),
            first(sigTs, ignoreNulls = true).over(wAfter).as("_after"))
          .where(col("event_type") === "purchase")
          .withColumn("nearest_signup_us",
            when(col("_prior").isNull, col("_after"))
              .when(col("_after").isNull, col("_prior"))
              .when(col("ts_us") - col("_prior") <= col("_after") - col("ts_us"),
                col("_prior"))
              .otherwise(col("_after")))
          .select(col("event_id"), col("nearest_signup_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        x AS (SELECT event_id, event_type, ts_us,
            last_value(CASE WHEN event_type = 'signup' THEN ts_us END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior,
            first_value(CASE WHEN event_type = 'signup' THEN ts_us END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS after_
          FROM e)
        SELECT event_id,
          CASE WHEN prior IS NULL THEN after_
               WHEN after_ IS NULL THEN prior
               WHEN ts_us - prior <= after_ - ts_us THEN prior
               ELSE after_ END AS nearest_signup_us
        FROM x WHERE event_type = 'purchase' ORDER BY event_id""")),

    QueryDef("op_compaction",
      // OPTIMIZE-style small-file compaction through the ACID commit
      // protocol: five appends leave five data dirs; compact() rewrites
      // them as ONE committed dir. The result pins the dir counts before
      // and after AND the full content (the oracle recomputes it
      // relationally — compaction must be invisible in the data)
      (s, d) => {
        val root = freshScratchRoot(s, "compact", d)
        val mt = ManifestTable(s, root)
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
        for (i <- 0 until 5)
          mt.append(docs.where(col("doc_id") % 5 === i))
        val dirsBefore = mt.dirCount()
        mt.compact()
        val dirsAfter = mt.dirCount()
        mt.snapshot()
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .withColumn("dirs_before", lit(dirsBefore.toLong))
          .withColumn("dirs_after", lit(dirsAfter.toLong))
          .orderBySmall(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          CAST(5 AS BIGINT) AS dirs_before, CAST(1 AS BIGINT) AS dirs_after
        FROM documents GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_window_funnel",
      // ClickHouse-style windowFunnel (view→click→purchase within 24 h
      // of the chain's FIRST event), exact via pure window algebra on
      // the user timeline — no self-joins; result is the depth census
      (s, d) => Analytics.windowFunnel3(eventsUs(s, d), col("user_id"),
          col("ts_us"), col("event_id"), col("event_type"),
          "view", "click", "purchase", windowUs = 86400L * 1000000L)
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_users"))
        .orderBySmall(col("depth")),
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        x AS (SELECT user_id, event_id, event_type, ts_us,
            last_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vbest
          FROM e),
        y AS (SELECT user_id, event_id, event_type, ts_us,
            CASE WHEN event_type = 'click' AND vbest >= ts_us - 86400000000 THEN vbest END AS vok
          FROM x),
        z AS (SELECT user_id, event_type, ts_us, vok,
            -- the event_id tiebreak MUST match the Spark side's stable-id
            -- order: with ts ties the ROWS frame is otherwise
            -- nondeterministic in DuckDB (latent today — the testdata has
            -- no (user_id, ts) duplicates — but one regenerated corpus
            -- away from a false red)
            max(vok) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anchor
          FROM y),
        per AS (SELECT user_id,
            max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS d1,
            max(CASE WHEN vok IS NOT NULL THEN 1 ELSE 0 END) AS d2,
            max(CASE WHEN event_type = 'purchase' AND anchor >= ts_us - 86400000000
              THEN 1 ELSE 0 END) AS d3
          FROM z GROUP BY 1)
        SELECT CAST(d1 + d1*d2 + d1*d2*d3 AS BIGINT) AS depth, count(*) AS n_users
        FROM per GROUP BY 1 ORDER BY 1""")),

    QueryDef("ml_decision_stump",
      // exact 1-rule learner: argmin-error (feature, threshold,
      // polarity) over integer features with a planted noisy rule —
      // per-feature integer error curves from the group-cumsum pattern,
      // global argmin as a bounded TakeOrdered; the ENTIRE fit is the
      // hash-checked answer
      (s, d) => {
        val f = t(s, d, "documents").select(
          (col("doc_id") % 17).cast("long").as("f1"),
          (col("doc_id") % 23).cast("long").as("f2"),
          when((col("doc_id") % 17 >= 9) =!= (col("doc_id") % 31 === 0), 1L)
            .otherwise(0L).as("y"))
        Analytics.decisionStumpFit(f,
          Seq("f1" -> col("f1"), "f2" -> col("f2")), col("y"))
      },
      Some("""WITH f AS (SELECT doc_id % 17 AS f1, doc_id % 23 AS f2,
            CASE WHEN (doc_id % 17 >= 9) <> (doc_id % 31 = 0) THEN 1 ELSE 0 END AS y
          FROM documents),
        g1 AS (SELECT f1 AS v, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS pos FROM f GROUP BY 1),
        w1 AS (SELECT v, CAST(coalesce(sum(pos) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS posBelow,
            CAST(coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cntBelow,
            CAST(sum(pos) OVER () AS BIGINT) AS posTot, CAST(sum(cnt) OVER () AS BIGINT) AS n FROM g1),
        e1 AS (SELECT 'f1' AS feature, v AS threshold, n,
            posBelow + ((n - cntBelow) - (posTot - posBelow)) AS errGe FROM w1),
        g2 AS (SELECT f2 AS v, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS pos FROM f GROUP BY 1),
        w2 AS (SELECT v, CAST(coalesce(sum(pos) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS posBelow,
            CAST(coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cntBelow,
            CAST(sum(pos) OVER () AS BIGINT) AS posTot, CAST(sum(cnt) OVER () AS BIGINT) AS n FROM g2),
        e2 AS (SELECT 'f2' AS feature, v AS threshold, n,
            posBelow + ((n - cntBelow) - (posTot - posBelow)) AS errGe FROM w2),
        u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
        p AS (SELECT feature, threshold, 'ge' AS polarity, errGe AS err, n AS n_rows FROM u
          UNION ALL SELECT feature, threshold, 'lt', n - errGe, n FROM u)
        SELECT feature, threshold, polarity, err, n_rows FROM p
        ORDER BY err, feature, threshold, polarity LIMIT 1""")),

    QueryDef("op_seasonal_anomaly",
      // hour-of-day seasonal baseline with EXACT |v−μ|>2σ flags: values
      // floor-scale to millionths (the op_ewma convention), the z-test
      // cross-multiplies to pure integers (n·v−s)² > k²(n·ss−s²) in
      // DECIMAL — zero float in any flag decision; per-hour census out
      (s, d) => {
        val ev = eventsUs(s, d).select(
          expr("(ts_us div 3600000000) % 24").as("hour"),
          floor(col("value") * 1000000).cast("long").as("v_micro"))
        Analytics.seasonalAnomaly(ev, col("hour"), col("v_micro"))
          .orderBySmall(col("season"))
      },
      Some("""WITH e AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
            CAST(floor(value * 1000000) AS BIGINT) AS v FROM events),
        m AS (SELECT hour, count(v) AS n, sum(CAST(v AS DECIMAL(28,0))) AS s,
            sum(CAST(CAST(v AS HUGEINT) * v AS DECIMAL(38,0))) AS ss
          FROM e GROUP BY 1)
        SELECT e.hour AS season, count(*) AS n_rows,
          CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE) AS season_mean,
          CAST(sum(CASE WHEN
              (CAST(m.n AS HUGEINT) * e.v - CAST(m.s AS HUGEINT)) *
              (CAST(m.n AS HUGEINT) * e.v - CAST(m.s AS HUGEINT))
              > 4 * (CAST(m.n AS HUGEINT) * CAST(m.ss AS HUGEINT)
                     - CAST(m.s AS HUGEINT) * CAST(m.s AS HUGEINT))
            THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM e JOIN m ON e.hour = m.hour
        GROUP BY 1, 3 ORDER BY 1""")),

    QueryDef("op_json_roundtrip",
      // JSON-lines FILE source (distinct from op14's to_json/from_json
      // column codecs): write the projected documents table as JSON
      // files, read it back through schema inference, aggregate — pins
      // the full serializer/parser/inference path against the parquet
      // truth
      (s, d) => {
        val dir = scratchDir("json", d)
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").json(dir)
        s.read.json(dir)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBySmall(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY 1""")),

    QueryDef("mm_exif_meta",
      // REAL EXIF/TIFF parse (JEITA CP-3451 layout) through the
      // construct-and-check gate: per-doc JPEG+APP1 payloads built from
      // analytic fields in BOTH byte orders (II for even ids, MM for
      // odd — real camera files use both), walked by the real segment/
      // IFD parser; the oracle states the planted fields directly
      (s, d) => {
        import s.implicits._
        val withPayload = t(s, d, "documents")
          .select(col("doc_id").cast("long")).as[Long]
          .mapPartitions(_.map { id =>
            (id, Multimodal.exifSampleBytes(
              "CAM_" + (id % 5), (id % 8 + 1).toInt,
              (100 + id % 50).toInt, 200 + id % 30, id % 2 == 0))
          }).toDF("doc_id", "payload")
        Multimodal.exifMeta(withPayload, "doc_id").orderBy(col("id"))
      },
      Some("""SELECT doc_id AS id, TRUE AS ok,
          CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
          CAST(4 AS INTEGER) AS n_entries,
          'CAM_' || CAST(doc_id % 5 AS VARCHAR) AS make,
          CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
          100 + doc_id % 50 AS width, 200 + doc_id % 30 AS height
        FROM documents ORDER BY id""")),

    QueryDef("ml_naive_bayes",
      // exact categorical Naive Bayes (Laplace α=1): posterior argmax
      // cross-multiplied to pure integers, decided per (v1,v2) CELL on
      // the driver in BigInteger and folded into a literal CASE chain —
      // the whole fit AND every prediction are hash-checked via the
      // confusion matrix
      (s, d) => {
        val f = t(s, d, "documents").select(
          (col("doc_id") % 5).cast("long").as("f1"),
          (col("doc_id") % 7).cast("long").as("f2"),
          // monotone-plus-noise rule: NB's marginal factorization can
          // actually learn it (an XOR-style parity label degenerates NB
          // to the majority class — a 2-cell confusion pins far less)
          when(col("doc_id") % 5 * 2 + col("doc_id") % 7 +
              when(col("doc_id") % 11 === 0, 3).otherwise(0) >= 7, 1)
            .otherwise(0).as("y"))
        Analytics.naiveBayes2Classify(f, col("f1"), col("f2"), col("y"))
          .groupBy(col("y").as("label"), col("nb_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBySmall(col("label"), col("nb_pred"))
      },
      Some("""WITH f AS (SELECT doc_id % 5 AS f1, doc_id % 7 AS f2,
            CASE WHEN doc_id % 5 * 2 + doc_id % 7 +
              CASE WHEN doc_id % 11 = 0 THEN 3 ELSE 0 END >= 7 THEN 1 ELSE 0 END AS y
          FROM documents),
        cls AS (SELECT CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
            CAST(sum(y) AS HUGEINT) AS n1,
            CAST(count(DISTINCT f1) AS HUGEINT) AS v1,
            CAST(count(DISTINCT f2) AS HUGEINT) AS v2 FROM f),
        c1 AS (SELECT f1 AS v, y, CAST(count(*) AS HUGEINT) AS c FROM f GROUP BY 1, 2),
        c2 AS (SELECT f2 AS v, y, CAST(count(*) AS HUGEINT) AS c FROM f GROUP BY 1, 2),
        cells AS (SELECT a.v AS v1v, b.v AS v2v,
            CASE WHEN cls.n1 * (coalesce(a1.c, 0) + 1) * (coalesce(b1.c, 0) + 1)
                   * (cls.n0 + cls.v1) * (cls.n0 + cls.v2)
                 > cls.n0 * (coalesce(a0.c, 0) + 1) * (coalesce(b0.c, 0) + 1)
                   * (cls.n1 + cls.v1) * (cls.n1 + cls.v2)
              THEN 1 ELSE 0 END AS pred
          FROM (SELECT DISTINCT f1 AS v FROM f) a
          CROSS JOIN (SELECT DISTINCT f2 AS v FROM f) b
          CROSS JOIN cls
          LEFT JOIN c1 a1 ON a1.v = a.v AND a1.y = 1
          LEFT JOIN c1 a0 ON a0.v = a.v AND a0.y = 0
          LEFT JOIN c2 b1 ON b1.v = b.v AND b1.y = 1
          LEFT JOIN c2 b0 ON b0.v = b.v AND b0.y = 0)
        SELECT f.y AS label, CAST(cells.pred AS INTEGER) AS nb_pred, count(*) AS n
        FROM f JOIN cells ON f.f1 = cells.v1v AND f.f2 = cells.v2v
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("op_csv_multiline",
      // quoted-multiline CSV roundtrip: text fields carrying EMBEDDED
      // NEWLINES and quotes (planted via construct) survive write →
      // multiLine read — the parser path op04's permissive scan never
      // exercises (a naive line-splitting reader breaks exactly here)
      (s, d) => {
        val dir = scratchDir("csvml", d)
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
          concat(lit("line1 \"q\" of "), col("doc_id"), lit("\nline2 of "),
            col("doc_id")).as("note"))
        docs.write.mode("overwrite").option("header", "true")
          .option("quoteAll", "true").csv(dir)
        s.read.option("header", "true").option("multiLine", "true")
          .option("inferSchema", "true").csv(dir)
          .select(col("doc_id").cast("long"), col("source"), col("note"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("note")).cast("long")).as("sum_note_chars"),
            sum(when(col("note").contains("\nline2"), 1L).otherwise(0L))
              .as("n_multiline"))
          .orderBySmall(col("source"))
      },
      Some("""WITH c AS (SELECT doc_id, source,
            'line1 "q" of ' || CAST(doc_id AS VARCHAR) || chr(10) || 'line2 of ' || CAST(doc_id AS VARCHAR) AS note
          FROM documents)
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(note)) AS BIGINT) AS sum_note_chars,
          CAST(sum(CASE WHEN note LIKE '%' || chr(10) || 'line2%' THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline
        FROM c GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_binary_file_source",
      // binaryFile source (the multimodal ingest surface: each file one
      // row with its bytes): text-sink the corpus, read the files back
      // as raw bytes, pin the TOTAL byte count (per-doc UTF-8 length +
      // one newline per row — file/partition layout is nondeterministic,
      // totals are not)
      (s, d) => {
        val dir = scratchDir("binf", d)
        t(s, d, "documents").select(col("text")).write.mode("overwrite").text(dir)
        s.read.format("binaryFile").load(dir)
          .where(col("path").endsWith(".txt"))
          .agg(sum(octet_length(col("content")).cast("long")).as("total_bytes"))
          .orderBySmall(col("total_bytes"))
      },
      Some("""SELECT CAST(sum(octet_length(CAST(text AS BLOB)) + 1) AS BIGINT) AS total_bytes
        FROM documents ORDER BY total_bytes""")),

    QueryDef("q8_market_share",
      // q8 analog (national market share): NATION_1 suppliers' share of
      // regional revenue by order year — nested agg over the 5-way join,
      // share = one division of decimal-exact sums
      (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val su = t(s, d, "supplier")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        // the ASIA predicate names the CUSTOMER's region only — push it
        // into the customer dim BEFORE the fact joins (1 of 5 regions
        // survives → customers shrink 5× ahead of the growing-table
        // sort-merges; the q7 pre-filter discipline). The supplier-nation
        // broadcast only labels the aggregation and stays where it was.
        val cf = c
          .join(broadcast(n.select(col("n_nationkey").as("_cnk"), col("n_regionkey").as("_crk"))),
            col("c_nationkey") === col("_cnk"))
          .join(broadcast(r), col("_crk") === col("r_regionkey"))
          .where(col("r_name") === "ASIA")
        l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .join(su.hint("merge"), col("l_suppkey") === col("s_suppkey"))
          .join(cf.hint("merge"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n.select(col("n_nationkey").as("_snk"), col("n_name").as("_sn"))),
            col("s_nationkey") === col("_snk"))
          .groupBy(year(col("o_orderdate").cast("date")).cast("long").as("o_year"))
          .agg(dsum(when(col("_sn") === "NATION_1", rev).otherwise(lit(0.0))).as("nation_rev"),
            dsum(rev).as("total_rev"))
          .withColumn("mkt_share",
            col("nation_rev").cast("double") / col("total_rev").cast("double"))
          .orderBySmall(col("o_year"))
      },
      Some(s"""SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
          ${dsumSql("CASE WHEN n1.n_name = 'NATION_1' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS nation_rev,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_rev,
          CAST(${dsumSql("CASE WHEN n1.n_name = 'NATION_1' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS DOUBLE)
            / CAST(${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS DOUBLE) AS mkt_share
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("q9_profit",
      // q9 analog (product-line profit by supplier nation and year):
      // profit = revenue − retailprice·quantity standing in for the
      // missing ps_supplycost; 4-way join + nation broadcast
      (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val su = t(s, d, "supplier")
        val p = t(s, d, "part")
        val n = t(s, d, "nation")
        val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          col("p_retailprice") * col("l_quantity") * lit(0.01)
        l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .join(su.hint("merge"), col("l_suppkey") === col("s_suppkey"))
          .join(p.hint("merge"), col("l_partkey") === col("p_partkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate").cast("date")).cast("long").as("o_year"))
          .agg(dsum(profit).as("sum_profit"), count(lit(1)).as("n_items"))
          .orderBy(col("nation"), col("o_year"))
      },
      Some(s"""SELECT n_name AS nation, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
          ${dsumSql("l_extendedprice * (1.0 - l_discount) - p_retailprice * l_quantity * 0.01")} AS sum_profit,
          count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN part ON l_partkey = p_partkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("q13_order_dist",
      // q13 (customer order-count distribution): LEFT join keeps
      // zero-order customers; the outer histogram groups the per-customer
      // counts — the classic two-level aggregation
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o.hint("merge"), col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBySmall(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY 1)
        GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

    QueryDef("q15_top_supplier",
      // q15 (top supplier): revenue view + scalar-max subquery — every
      // supplier achieving the maximum quarter revenue (ties kept, like
      // the spec); max broadcasts as a 1-row cross join
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .where(col("l_shipdate") >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
            col("l_shipdate") < expr("TIMESTAMP_NTZ '1996-04-01 00:00:00'"))
          .groupBy(col("l_suppkey"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_revenue"))
        val mx = rev.agg(max(col("total_revenue")).as("_mx"))
        // the max-achieving rev rows are the TINY side — broadcast THEM
        // into the SF-growing supplier table, never the reverse
        val top = rev.crossJoin(broadcast(mx))
          .where(col("total_revenue") === col("_mx"))
        t(s, d, "supplier")
          .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBySmall(col("s_suppkey"))
      },
      Some(s"""WITH rev AS (SELECT l_suppkey,
            ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s_suppkey""")),

    QueryDef("q2_min_cost_supplier",
      // q2 analog (min-cost supplier per part, region-restricted): the
      // "supply" relation is derived from shipped lineitems (no partsupp
      // in the driver schema) — per (part, EUROPE supplier) min offer
      // price, then the correlated-min decorrelated as an aggregate
      // self-join (supply ⋈ per-part min on equality, ties kept like the
      // spec); dims broadcast, SF-growing sides sort-merge
      (s, d) => {
        val eur = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .where(col("r_name") === "EUROPE")
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        val supply = t(s, d, "lineitem")
          .join(eur.select(col("s_suppkey").as("_esk")).hint("merge"),
            col("l_suppkey") === col("_esk"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice")).as("min_cost"))
        val pmin = supply.groupBy(col("l_partkey").as("_pk"))
          .agg(min(col("min_cost")).as("_pmin"))
        supply
          .join(pmin.hint("merge"),
            col("l_partkey") === col("_pk") && col("min_cost") === col("_pmin"))
          .join(t(s, d, "part").where(col("p_size") === 15)
            .select(col("p_partkey"), col("p_name")).hint("merge"),
            col("l_partkey") === col("p_partkey"))
          .join(eur.hint("merge"), col("l_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
            col("n_name").as("nation"), col("min_cost"))
          .orderBy(col("p_partkey"), col("s_suppkey"))
      },
      Some("""WITH eur AS (SELECT s_suppkey, s_name, n_name FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
          supply AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_cost
            FROM lineitem JOIN eur ON l_suppkey = s_suppkey GROUP BY 1, 2),
          pmin AS (SELECT l_partkey, min(min_cost) AS pmin FROM supply GROUP BY 1)
        SELECT p_partkey, p_name, s_suppkey, s_name, n_name AS nation, supply.min_cost
        FROM part JOIN supply ON p_partkey = supply.l_partkey
        JOIN pmin ON pmin.l_partkey = supply.l_partkey AND supply.min_cost = pmin.pmin
        JOIN eur ON s_suppkey = supply.l_suppkey
        WHERE p_size = 15
        ORDER BY p_partkey, s_suppkey""")),

    QueryDef("q11_important_parts",
      // q11 analog (important stock): per-part shipped value restricted
      // to three nations' suppliers, kept where value > total/1000 — the
      // HAVING-vs-scalar-fraction shape. The compare stays in DECIMAL
      // (value·1000 > total, cross-multiplied — no float until the
      // output cast), so the cut is exact and order-independent
      (s, d) => {
        val v = t(s, d, "lineitem")
          .join(t(s, d, "supplier").hint("merge"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .where(col("n_name").isin("NATION_7", "NATION_12", "NATION_19"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(24,6)")).as("vd"))
        val tot = v.agg(sum(col("vd")).as("_total"))
        v.crossJoin(broadcast(tot))
          .where(col("vd").cast("decimal(30,6)") * lit(1000) > col("_total"))
          .select(col("l_partkey").as("p_partkey"),
            col("vd").cast("double").as("part_value"))
          .orderBy(col("part_value").desc, col("p_partkey"))
      },
      Some("""WITH val AS (SELECT l_partkey,
            sum(CAST(l_extendedprice AS DECIMAL(24,6))) AS vd
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name IN ('NATION_7', 'NATION_12', 'NATION_19') GROUP BY 1),
        tot AS (SELECT sum(vd) AS total FROM val)
        SELECT l_partkey AS p_partkey, CAST(vd AS DOUBLE) AS part_value
        FROM val, tot WHERE CAST(vd AS DECIMAL(30,6)) * 1000 > total
        ORDER BY part_value DESC, p_partkey""")),

    QueryDef("q17_small_qty_revenue",
      // q17 analog (small-quantity-order revenue): lineitems of one brand
      // whose quantity is below 0.2× that part's average — the correlated
      // per-part avg decorrelated as an aggregate join, the compare
      // cross-multiplied to 5·qty·n < sum_qty in DECIMAL (never a float
      // avg); revenue/7 is ONE final IEEE division of an exact sum
      (s, d) => {
        val li = t(s, d, "lineitem")
          .join(t(s, d, "part").where(col("p_brand") === "Brand#23")
            .select(col("p_partkey")).hint("merge"),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"),
            col("l_quantity").cast("decimal(20,6)").as("qd"), col("l_extendedprice"))
        val pa = li.groupBy(col("l_partkey").as("_pk"))
          .agg(sum(col("qd")).as("_sum_qty"), count(lit(1)).as("_n"))
        li.join(pa.hint("merge"), col("l_partkey") === col("_pk"))
          .where(col("qd") * lit(5) * col("_n").cast("decimal(12,0)") < col("_sum_qty"))
          .agg(
            (dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
            count(lit(1)).as("n_lines"))
          .select(lit("Brand#23").as("p_brand"), col("avg_yearly"), col("n_lines"))
          .orderBySmall(col("p_brand"))
      },
      Some(s"""WITH li AS (SELECT l_partkey, CAST(l_quantity AS DECIMAL(20,6)) AS qd,
            l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#23'),
        pa AS (SELECT l_partkey, sum(qd) AS sum_qty, count(*) AS n FROM li GROUP BY 1)
        SELECT 'Brand#23' AS p_brand,
          ${dsumSql("li.l_extendedprice")} / 7.0 AS avg_yearly,
          count(*) AS n_lines
        FROM li JOIN pa ON li.l_partkey = pa.l_partkey
        WHERE li.qd * 5 * CAST(pa.n AS DECIMAL(12,0)) < pa.sum_qty
        ORDER BY p_brand""")),

    QueryDef("q20_excess_suppliers",
      // q20 analog (suppliers with excess movement, nested-semi shape):
      // per (supplier, 'small%' part), 1997 shipped quantity vs all-time —
      // the correlated 0.5·threshold cross-multiplied in DECIMAL
      // (2·q97 > q_all), computed in ONE conditional-sum aggregation;
      // qualifying suppliers semi-join into the EUROPE supplier roster
      (s, d) => {
        val zero = lit(0).cast("decimal(20,6)")
        val in97 = col("l_shipdate") >= expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
        val excess = t(s, d, "lineitem")
          .join(t(s, d, "part").where(col("p_name").like("small%"))
            .select(col("p_partkey")).hint("merge"),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_suppkey"), col("l_partkey"),
            col("l_quantity").cast("decimal(20,6)").as("qd"), in97.as("_in97"))
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(sum(col("qd")).as("q_all"),
            sum(when(col("_in97"), col("qd")).otherwise(zero)).as("q_97"))
          .where(col("q_97") * lit(2) > col("q_all"))
          .select(col("l_suppkey")).distinct()
        t(s, d, "supplier")
          .join(excess.hint("merge"), col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .where(col("r_name") === "EUROPE")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH base AS (SELECT l_suppkey, l_partkey,
            CAST(l_quantity AS DECIMAL(20,6)) AS qd, l_shipdate
          FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_name LIKE 'small%'),
        agg AS (SELECT l_suppkey, l_partkey, sum(qd) AS q_all,
            sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              THEN qd ELSE CAST(0 AS DECIMAL(20,6)) END) AS q_97
          FROM base GROUP BY 1, 2),
        excess AS (SELECT DISTINCT l_suppkey FROM agg WHERE q_97 * 2 > q_all)
        SELECT s_suppkey, s_name FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND EXISTS (SELECT 1 FROM excess WHERE excess.l_suppkey = s_suppkey)
        ORDER BY s_suppkey""")),

    QueryDef("q21_waiting_suppliers",
      // q21 analog (suppliers who kept orders waiting): late = shipped
      // >90 days after order date on finalized orders; keep late lines on
      // multi-supplier orders where NO other supplier was late — the
      // EXISTS as a residual-condition left_semi, the NOT EXISTS as the
      // matching left_anti against the late set itself
      (s, d) => {
        val late = t(s, d, "lineitem")
          .join(t(s, d, "orders").where(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .where(datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")) > 90)
          .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        val li2 = t(s, d, "lineitem")
          .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
        val late3 = late.select(col("ok").as("ok3"), col("sk").as("sk3"))
        late
          .join(li2.hint("merge"),
            col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
          .join(late3.hint("merge"),
            col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
          .join(t(s, d, "supplier").hint("merge"), col("sk") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      Some("""WITH late AS (SELECT l_orderkey, l_suppkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
            AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90)
        SELECT s_name, count(*) AS numwait
        FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY 1 ORDER BY numwait DESC, s_name""")),

    QueryDef("mm_image_whash",
      // frequency-domain perceptual hash (pHash idea, Walsh–Hadamard
      // instead of DCT → every coefficient an exact integer) through the
      // REAL codec: 16×16 PNGs with left-half gray a (from vec_id) vs
      // right-half 120 — the step construct's WHT is analytic (one AC
      // coefficient 8192·(a−b), the rest zero; median 0), so the oracle
      // states the full hash from vec_id alone
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 19 === 0).as[Long]
        val png = ids.mapPartitions { it =>
          it.map { id =>
            val a = (120 + ((id % 5).toInt - 2) * 40)
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var x = 0
            while (x < 16) {
              val g = if (x < 8) a else 120
              val c = (g << 16) | (g << 8) | g
              var y = 0
              while (y < 16) { img.setRGB(x, y, c); y += 1 }
              x += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }.toDF("vec_id", "payload")
        Multimodal.imageWHash(png, "vec_id")
          .select(col("id").as("vec_id"), col("ok"), col("whash_hex"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, TRUE AS ok,
          CASE WHEN 120 + (vec_id % 5 - 2) * 40 > 120
            THEN '0800000000000000' ELSE '0000000000000000' END AS whash_hex
        FROM embeddings WHERE vec_id % 19 = 0 ORDER BY vec_id""")),

    QueryDef("mm_image_near_dup",
      // END-TO-END image near-duplicate detection through the REAL codec:
      // encode a 16×16 PNG per row whose 2×2 blocks draw a 64-bit pattern
      // (white cells always threshold to 1, black to 0 — so aHash equals
      // the pattern EXACTLY), decode+hash with Multimodal.imageAHash, then
      // pair via the SAME 4×16-bit pigeonhole band join the text dedup
      // family uses (Dedup.hammingNearDupPairs — exact for hamming ≤ 3).
      // Patterns are planted: groups of 4 consecutive ids share a 60-bit
      // md5 base with nested low-bit flips {0,1,3,7} → in-group hammings
      // 1..3 all survive, cross-group md5 bases sit ~30 bits apart — and
      // the oracle brute-forces the identical criterion over the analytic
      // patterns, so codec, hash, and LSH must all agree bit for bit
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 7 === 0).as[Long]
        val png = ids.mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { id =>
            val j = id / 7
            val g = j / 4
            val mask = Array(0L, 1L, 3L, 7L)((j % 4).toInt)
            val hex = md.digest(g.toString.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.take(15)
            val pat = java.lang.Long.parseLong(hex, 16) ^ mask
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var cell = 0
            while (cell < 64) {
              val colr = if (((pat >>> (63 - cell)) & 1L) == 1L) 0xffffff else 0x000000
              val bx = (cell % 8) * 2; val by = (cell / 8) * 2
              img.setRGB(bx, by, colr); img.setRGB(bx + 1, by, colr)
              img.setRGB(bx, by + 1, colr); img.setRGB(bx + 1, by + 1, colr)
              cell += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }.toDF("vec_id", "payload")
        val sig = Multimodal.imageAHash(png, "vec_id")
          .where(col("ok"))
          .select(col("id"), conv(col("ahash_hex"), 16, 10).cast("long").as("h"))
        Dedup.hammingNearDupPairs(sig, "id", "h")
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH sel AS (SELECT vec_id, (vec_id // 7) // 4 AS g, (vec_id // 7) % 4 AS r
            FROM embeddings WHERE vec_id % 7 = 0),
          pat AS (SELECT vec_id,
            xor(('0x' || substring(md5(CAST(g AS VARCHAR)), 1, 15))::BIGINT,
              CASE r WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END) AS p
          FROM sel)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          CAST(bit_count(xor(a.p, b.p)) AS INTEGER) AS hamming
        FROM pat a JOIN pat b ON a.vec_id < b.vec_id
        WHERE bit_count(xor(a.p, b.p)) <= 3
        ORDER BY id_a, id_b""")),

    QueryDef("txt_normalize",
      // Unicode normalization (the first transform of any mixed-source
      // text ingest; Spark has NO built-in) via the codegen
      // NormalizeExpr kernel: NFC, NFKC, and accent-strip (NFD → drop
      // Mn → NFC) over text with planted suffixes covering the four
      // interesting classes — combining sequence (Cafe+́ → Café),
      // precomposed accents (Ångström ñ), compatibility forms (ﬁ
      // ligature, fullwidth Ａ), and pure ASCII. The corpus itself is
      // ASCII (normalization-invariant under every form), so every
      // expected output is analytic and the oracle replays it
      // constructively — no cross-engine normalizer needed
      (s, d) => {
        import graft.functions.NormalizeOps
        val m = pmod(col("doc_id"), lit(4))
        // explicit \u escapes: m==0 is the DECOMPOSED sequence e+U+0301
        // (the whole point), and nothing depends on source-file encoding
        val suff = when(m === 0, lit(" Cafe\u0301"))
          .when(m === 1, lit(" \u00c5ngstr\u00f6m \u00f1"))
          .when(m === 2, lit(" \ufb01n \uff21b"))
          .otherwise(lit(""))
        t(s, d, "documents")
          .withColumn("raw", concat(col("text"), suff))
          .select(col("doc_id"),
            md5(NormalizeOps.nfc(col("raw"))).as("nfc_md5"),
            md5(NormalizeOps.nfkc(col("raw"))).as("nfkc_md5"),
            md5(NormalizeOps.stripAccents(col("raw"))).as("strip_md5"),
            (length(col("raw")) - length(NormalizeOps.nfc(col("raw"))))
              .as("nfc_delta"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH r AS (SELECT doc_id, text,
            CASE doc_id % 4 WHEN 0 THEN ' Cafe' || chr(769)
              WHEN 1 THEN ' ' || chr(197) || 'ngstr' || chr(246) || 'm ' || chr(241)
              WHEN 2 THEN ' ' || chr(64257) || 'n ' || chr(65313) || 'b'
              ELSE '' END AS suff,
            CASE doc_id % 4 WHEN 0 THEN ' Caf' || chr(233)
              WHEN 1 THEN ' ' || chr(197) || 'ngstr' || chr(246) || 'm ' || chr(241)
              WHEN 2 THEN ' ' || chr(64257) || 'n ' || chr(65313) || 'b'
              ELSE '' END AS nfc_suff,
            CASE doc_id % 4 WHEN 0 THEN ' Caf' || chr(233)
              WHEN 1 THEN ' ' || chr(197) || 'ngstr' || chr(246) || 'm ' || chr(241)
              WHEN 2 THEN ' fin Ab'
              ELSE '' END AS nfkc_suff,
            CASE doc_id % 4 WHEN 0 THEN ' Cafe'
              WHEN 1 THEN ' Angstrom n'
              WHEN 2 THEN ' ' || chr(64257) || 'n ' || chr(65313) || 'b'
              ELSE '' END AS strip_suff
          FROM documents)
        SELECT doc_id,
          md5(text || nfc_suff) AS nfc_md5,
          md5(text || nfkc_suff) AS nfkc_md5,
          md5(text || strip_suff) AS strip_md5,
          CAST(length(text || suff) - length(text || nfc_suff) AS INTEGER) AS nfc_delta
        FROM r ORDER BY doc_id""")),

    QueryDef("op_ohlc_bars",
      // time-bar resample (OHLC downsampling — the time-series face of
      // aggregation): hourly bars per event type; open/close are
      // min_by/max_by on the (ts, event_id) struct in ONE shuffle — no
      // corpus-wide window pass — mirrored by the oracle's row_number
      // window form; bar sum through DECIMAL
      (s, d) => Analytics.ohlcBars(eventsUs(s, d), col("event_type"),
          col("ts_us"), col("event_id"), col("value"), barUs = 3600000000L)
        .withColumnRenamed("key", "event_type")
        .orderBySmall(col("event_type"), col("bar_us")),
      Some("""WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id, value
            FROM events),
          b AS (SELECT event_type, ts_us - ts_us % 3600000000 AS bar_us,
              ts_us, event_id, value FROM ev),
          r AS (SELECT *,
              row_number() OVER (PARTITION BY event_type, bar_us
                ORDER BY ts_us, event_id) AS ra,
              row_number() OVER (PARTITION BY event_type, bar_us
                ORDER BY ts_us DESC, event_id DESC) AS rd
            FROM b)
        SELECT event_type, bar_us,
          max(CASE WHEN ra = 1 THEN value END) AS open,
          max(value) AS high, min(value) AS low,
          max(CASE WHEN rd = 1 THEN value END) AS close,
          count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM r GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("ml_knn",
      // kNN classification COMPOSED from the exact ANN operator (the
      // label-propagation serving shape): top-5 cosine neighbors per
      // query → majority vote with a deterministic tie-break (max votes,
      // then smallest label, via ONE max(struct) agg — no window), plus
      // a per-query correctness flag against the query's own label
      (s, d) => {
        val e = t(s, d, "embeddings")
        val pred = Similarity.knnClassify(
          e.where(annQueryPred), e, "vec_id", "embedding", "label", 5)
        val qlab = e.where(annQueryPred)
          .select(col("vec_id").as("_qid"), col("label").as("_qlab"))
        pred.join(qlab.hint("merge"), col("query_id") === col("_qid"))
          .select(col("query_id"), col("pred_label"), col("votes"),
            (col("pred_label") === col("_qlab")).as("is_correct"))
          .orderBy(col("query_id"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlab
            FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 2048),
          s AS (SELECT qid, vec_id AS nid, label AS nlab,
            list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * embedding[i]::DOUBLE)) /
            (sqrt(list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
             sqrt(list_sum(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))) AS sim
            FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
          r AS (SELECT qid, nlab FROM (
              SELECT qid, nlab, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
              FROM s) WHERE rnk <= 5),
          v AS (SELECT qid, nlab AS pred_label, count(*) AS votes FROM r GROUP BY 1, 2),
          p AS (SELECT qid, pred_label, votes FROM (
              SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, pred_label) AS rr
              FROM v) WHERE rr = 1)
        SELECT p.qid AS query_id, CAST(p.pred_label AS INTEGER) AS pred_label,
          votes, (p.pred_label = q.qlab) AS is_correct
        FROM p JOIN q ON p.qid = q.qid ORDER BY query_id""")),

    QueryDef("ml_kappa",
      // inter-annotator agreement (Cohen's kappa) over two planted
      // labelers: B disagrees with A exactly on doc_id%5==0 (shifted
      // class) and abstains (NULL) on doc_id%11==0 — kappa reduces to
      // ONE division of exact integers (n·agree − Σ nA·nB over n² − Σ),
      // computed from the bounded |classes|² cell table
      (s, d) => {
        val a = pmod(col("doc_id"), lit(3L))
        val b = when(pmod(col("doc_id"), lit(11L)) === 0, lit(null))
          .when(pmod(col("doc_id"), lit(5L)) === 0, pmod(col("doc_id") + 1, lit(3L)))
          .otherwise(a)
        MlEval.cohenKappa(t(s, d, "documents").select(a.as("la"), b.as("lb")),
          col("la"), col("lb"))
          .orderBySmall(col("n"))
      },
      Some("""WITH lab AS (SELECT doc_id % 3 AS la,
            CASE WHEN doc_id % 11 = 0 THEN NULL
              WHEN doc_id % 5 = 0 THEN (doc_id + 1) % 3
              ELSE doc_id % 3 END AS lb
          FROM documents),
        v AS (SELECT la, lb FROM lab WHERE la IS NOT NULL AND lb IS NOT NULL),
        tot AS (SELECT count(*) AS n,
            CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM v),
        na AS (SELECT la AS k, count(*) AS c FROM v GROUP BY 1),
        nb AS (SELECT lb AS k, count(*) AS c FROM v GROUP BY 1),
        pr AS (SELECT CAST(coalesce(sum(na.c * nb.c), 0) AS BIGINT) AS sum_prod
          FROM na JOIN nb ON na.k = nb.k)
        SELECT n, n_agree, sum_prod,
          CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
          CAST(sum_prod AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
          CASE WHEN n * n <> sum_prod THEN
            CAST(n * n_agree - sum_prod AS DOUBLE) / CAST(n * n - sum_prod AS DOUBLE)
          END AS kappa
        FROM tot CROSS JOIN pr ORDER BY n""")),

    QueryDef("op_cusum",
      // CUSUM change-point detection per event type — the sequential
      // drift detector as pure window algebra: the max(0, s+dev)
      // recursion rewritten EXACTLY as S − min(0, running min S) over
      // one partitioned sort; milli-scaled integers end to end
      (s, d) => Analytics.cusumAlarms(eventsUs(s, d), col("event_type"),
          col("ts_us"), col("event_id"),
          floor(col("value") * 1000).cast("long"),
          slackMilli = 0L, thresholdMilli = 2000000L)
        .orderBySmall(col("key")),
      Some("""WITH ev AS (SELECT event_type AS key, epoch_us(ts) AS ts_us, event_id,
            CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
          tg AS (SELECT key, CAST(sum(v) // count(*) AS BIGINT) AS target_milli
            FROM ev GROUP BY 1),
          w AS (SELECT ev.key, ts_us, event_id, target_milli,
              sum(v - target_milli) OVER (PARTITION BY ev.key
                ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS s
            FROM ev JOIN tg USING (key)),
          cc AS (SELECT key, ts_us, target_milli,
              s - least(min(s) OVER (PARTITION BY key
                ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING), 0) AS cusum
            FROM w)
        SELECT key, count(*) AS n_points, CAST(max(target_milli) AS BIGINT) AS target_milli,
          CAST(max(cusum) AS BIGINT) AS max_cusum,
          CAST(sum(CASE WHEN cusum > 2000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
          min(CASE WHEN cusum > 2000000 THEN ts_us END) AS first_alarm_ts
        FROM cc GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_schema_evolution",
      // schema-evolution-tolerant source: generation 1 lands WITHOUT the
      // o_channel column, generation 2 adds it — `mergeSchema` unifies
      // the footers and g1 rows surface NULL channel (the additive-drift
      // contract every long-lived ingest needs; op_schema_drift PROFILES
      // the drift, this key READS across it). The oracle replays the
      // union relationally, so projection alignment must be exact
      (s, d) => {
        val dir = scratchDir("evo", d)
        val base = t(s, d, "orders")
        val g1 = base.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        val g2 = base.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            when(col("o_orderkey") % 5 === 0, lit("web")).otherwise(lit("store"))
              .as("o_channel"))
        g1.write.mode("overwrite").parquet(dir + "/gen=1")
        g2.write.mode("overwrite").parquet(dir + "/gen=2")
        s.read.option("mergeSchema", "true").parquet(dir + "/gen=1", dir + "/gen=2")
          .groupBy(col("o_channel"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice"), 2).as("sum_price"))
          .orderBySmall(col("o_channel"))
      },
      Some(s"""WITH u AS (
          SELECT o_orderkey, o_totalprice, NULL AS o_channel FROM orders WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderkey, o_totalprice,
            CASE WHEN o_orderkey % 5 = 0 THEN 'web' ELSE 'store' END AS o_channel
          FROM orders WHERE o_orderkey % 2 = 1)
        SELECT o_channel, count(*) AS n_orders, ${dsumSql("o_totalprice", 20, 2)} AS sum_price
        FROM u GROUP BY 1 ORDER BY 1 NULLS FIRST""")),

    QueryDef("op_point_in_polygon",
      // geofencing (the polygon primitive one step up from the radius
      // join): boundary-inclusive point-in-convex-polygon via integer
      // cross products — EXACT, no epsilon — over the customer grid
      // coordinates; census per nation band. CCW/convexity of the
      // planted quadrilateral verified offline (signed area +4.2e6, all
      // consecutive-edge crosses positive)
      (s, d) => {
        val poly = Seq((100L, 200L), (1000L, 400L), (1100L, 2700L), (150L, 2500L))
        val p = t(s, d, "customer").select(
          (col("c_nationkey") % 5).as("band"),
          (col("c_custkey") * 7 % 1200).as("cx"),
          (col("c_custkey") * 13 % 3000).as("cy"))
        p.groupBy(col("band"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(Geo.pointInConvexPolygon(col("cx"), col("cy"), poly), 1L)
              .otherwise(0L)).as("n_inside"))
          .orderBySmall(col("band"))
      },
      Some(s"""WITH p AS (SELECT c_nationkey % 5 AS band,
            c_custkey * 7 % 1200 AS cx, c_custkey * 13 % 3000 AS cy FROM customer)
        SELECT band, count(*) AS n_total,
          CAST(sum(CASE WHEN ${Geo.pointInConvexPolygonSql("cx", "cy",
            Seq((100L, 200L), (1000L, 400L), (1100L, 2700L), (150L, 2500L)))}
            THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
        FROM p GROUP BY 1 ORDER BY 1""")),

    QueryDef("txt_rake",
      // RAKE keyword extraction: stopword-free runs as candidate
      // phrases, word score = deg·10⁶ div freq (integer millionths —
      // phrase scores become exact integer SUMS), bounded top-100 head;
      // the phrase-splitting regex is RE2-class and mirrors verbatim
      (s, d) => TextAnalysis.rakeKeywords(t(s, d, "documents"), "text",
        stopwords = Seq("a", "the"), topK = 100),
      Some("""WITH pad AS (SELECT ' ' || text || ' ' AS t FROM documents),
          p0 AS (SELECT unnest(string_split_regex(t, '(?:\s+(?:a|the))+\s+')) AS raw FROM pad),
          p1 AS (SELECT trim(regexp_replace(raw, '\s+', ' ', 'g')) AS phrase FROM p0),
          p2 AS (SELECT regexp_replace(regexp_replace(phrase,
              '^(?:(?:a|the) )+', ''), '( (?:a|the))+$', '') AS phrase
            FROM p1 WHERE len(phrase) > 0),
          inst AS (SELECT phrase, CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words
            FROM p2 WHERE len(phrase) > 0),
          words AS (SELECT unnest(string_split(phrase, ' ')) AS w, n_words FROM inst),
          ws AS (SELECT w, CAST(sum(n_words) * 1000000 // count(*) AS BIGINT) AS sm
            FROM words GROUP BY 1),
          dp AS (SELECT phrase, max(n_words) AS n_words, count(*) AS n_occ
            FROM inst GROUP BY 1),
          pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dp),
          sc AS (SELECT pw.phrase, CAST(sum(ws.sm) AS BIGINT) AS score_micro
            FROM pw JOIN ws USING (w) GROUP BY 1)
        SELECT dp.phrase, dp.n_words, dp.n_occ, sc.score_micro
        FROM dp JOIN sc USING (phrase)
        ORDER BY score_micro DESC, phrase LIMIT 100""")),

    QueryDef("ml_hard_negatives",
      // contrastive-training triplet mining: per query, the best-ranked
      // same-label neighbor (positive) and best-ranked different-label
      // neighbor (hard negative) from the exact top-10 shortlist — each
      // one conditional min(struct) agg, NULL when the class is absent
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.hardNegatives(e.where(annQueryPred), e,
            "vec_id", "embedding", "label", 10)
          .orderBy(col("query_id"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlab
            FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 2048),
          s AS (SELECT qid, qlab, vec_id AS nid, label AS nlab,
            list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * embedding[i]::DOUBLE)) /
            (sqrt(list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
             sqrt(list_sum(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))) AS sim
            FROM embeddings CROSS JOIN q WHERE vec_id <> qid),
          r AS (SELECT qid, qlab, nid, nlab,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
            FROM s QUALIFY rnk <= 10),
          pos AS (SELECT qid, rnk, nid,
              row_number() OVER (PARTITION BY qid ORDER BY rnk) AS rr
            FROM r WHERE nlab = qlab),
          neg AS (SELECT qid, rnk, nid,
              row_number() OVER (PARTITION BY qid ORDER BY rnk) AS rr
            FROM r WHERE nlab <> qlab),
          qq AS (SELECT DISTINCT qid FROM r)
        SELECT qq.qid AS query_id,
          CAST(pos.rnk AS INTEGER) AS pos_rank, pos.nid AS pos_id,
          CAST(neg.rnk AS INTEGER) AS neg_rank, neg.nid AS neg_id
        FROM qq
        LEFT JOIN pos ON pos.qid = qq.qid AND pos.rr = 1
        LEFT JOIN neg ON neg.qid = qq.qid AND neg.rr = 1
        ORDER BY query_id""")),

    QueryDef("op_twap",
      // time-weighted average over the irregular event series (the mean
      // a plain avg() gets wrong off a regular grid): per type, each
      // value holds until the next event — exact µs durations weight
      // milli-scaled values in DECIMAL, one final division
      (s, d) => Analytics.timeWeightedAvg(eventsUs(s, d), col("event_type"),
          col("ts_us"), col("event_id"), floor(col("value") * 1000).cast("long"))
        .orderBySmall(col("key")),
      Some("""WITH ev AS (SELECT event_type AS key, epoch_us(ts) AS ts_us, event_id,
            CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
          w AS (SELECT key, v,
              lead(ts_us) OVER (PARTITION BY key ORDER BY ts_us, event_id) - ts_us AS dur
            FROM ev)
        SELECT key, count(*) AS n_intervals, CAST(sum(dur) AS BIGINT) AS total_dur_us,
          CAST(sum(CAST(v AS DECIMAL(18,0)) * CAST(dur AS DECIMAL(18,0))) AS DOUBLE) /
            CAST(sum(dur) AS DOUBLE) AS twap_milli
        FROM w WHERE dur IS NOT NULL GROUP BY 1 ORDER BY 1""")),

    QueryDef("emb_centroid_drift",
      // embedding-distribution drift monitor: per label, cosine between
      // even/odd-cohort centroid directions in QUANTIZED space — int8
      // per-dim sums are exact integers (cosine of sums == cosine of
      // means), DECIMAL products, ONE final float expression
      (s, d) => Similarity.centroidDrift(t(s, d, "embeddings"), "vec_id",
          "embedding", "label", pmod(col("vec_id"), lit(2)))
        .orderBySmall(col("label")),
      Some("""WITH qz AS (SELECT vec_id, label, vec_id % 2 AS coh,
            CASE WHEN m = 0 THEN [0 FOR x IN embedding]
              ELSE [CAST(floor(CAST(x AS DOUBLE)/m*127 + 0.5) AS INTEGER) FOR x IN embedding]
            END AS q
          FROM (SELECT vec_id, label, embedding,
              CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS m
            FROM embeddings)),
          cells AS (SELECT label, coh,
              unnest(generate_series(1, len(q))) - 1 AS pos, unnest(q) AS v FROM qz),
          sums AS (SELECT label, coh, pos, CAST(sum(v) AS BIGINT) AS s
            FROM cells GROUP BY 1, 2, 3),
          j AS (SELECT a.label,
              sum(CAST(a.s AS DECIMAL(18,0)) * CAST(b.s AS DECIMAL(18,0))) AS num,
              sum(CAST(a.s AS DECIMAL(18,0)) * CAST(a.s AS DECIMAL(18,0))) AS na2,
              sum(CAST(b.s AS DECIMAL(18,0)) * CAST(b.s AS DECIMAL(18,0))) AS nb2
            FROM sums a JOIN sums b ON a.label = b.label AND a.pos = b.pos
            WHERE a.coh = 0 AND b.coh = 1 GROUP BY 1),
          cnt AS (SELECT label,
              CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM embeddings GROUP BY 1)
        SELECT cnt.label AS label, n_a, n_b,
          CAST(num AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
            AS drift_cos
        FROM cnt JOIN j ON cnt.label = j.label ORDER BY cnt.label""")),

    QueryDef("mm_gif_meta",
      // REAL GIF container parse (4th container format: PNG dims, WAV,
      // MP4 boxes, EXIF — now the GIF block grammar): builder-constructed
      // GIFs with analytic logical-screen dims, global-color-table size,
      // and frame count recovered by the block walk
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 29 === 0).as[Long]
        val gifs = ids.mapPartitions { it =>
          it.map { id =>
            (id, Multimodal.gifSampleBytes(
              width = (id % 300).toInt + 1, height = (id % 200).toInt + 1,
              frames = (id % 4).toInt + 1, gctBits = (id % 7).toInt + 1,
              v89 = id % 2 == 0))
          }
        }.toDF("vec_id", "payload")
        Multimodal.gifMeta(gifs, "vec_id")
          .select(col("id").as("vec_id"), col("ok"), col("version"),
            col("width"), col("height"), col("gct_entries"), col("n_frames"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, TRUE AS ok,
          CASE WHEN vec_id % 2 = 0 THEN '89a' ELSE '87a' END AS version,
          CAST(vec_id % 300 + 1 AS INTEGER) AS width,
          CAST(vec_id % 200 + 1 AS INTEGER) AS height,
          CAST(1 << CAST(vec_id % 7 + 1 AS INTEGER) AS INTEGER) AS gct_entries,
          CAST(vec_id % 4 + 1 AS INTEGER) AS n_frames
        FROM embeddings WHERE vec_id % 29 = 0 ORDER BY vec_id""")),

    QueryDef("op_table_checksum",
      // order-independent table fingerprint (the replication/migration
      // validator): SUM of 60-bit md5 row digests — no sort, one linear
      // pass, identical across engines and partition layouts; float
      // columns go through DECIMAL (float→string is not portable)
      (s, d) => Aggregates.tableChecksum(t(s, d, "orders"),
          Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice").cast("decimal(20,2)")))
        .orderBySmall(col("n_rows")),
      Some("""SELECT count(*) AS n_rows,
          CAST(CAST(sum(('0x' || substring(md5(
            CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' ||
            o_orderstatus || '|' || o_orderpriority || '|' ||
            CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS VARCHAR)), 1, 15))::BIGINT) AS DECIMAL(38,0)) AS VARCHAR)
            AS checksum
        FROM orders ORDER BY n_rows""")),

    QueryDef("ml_ab_test",
      // two-proportion A/B readout per event type (variant = user parity,
      // conversion = value > 100): exact integer exposure/conversion
      // counts in ONE agg; rates/lift/pooled z are a single
      // deterministic float expression over those integers
      (s, d) => MlEval.abTest(eventsUs(s, d), col("event_type"),
          col("user_id") % 2 === 1, col("value") > 100.0)
        .orderBySmall(col("grp")),
      Some("""WITH cells AS (SELECT event_type AS grp,
            CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN user_id % 2 = 0 AND value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
            CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(sum(CASE WHEN user_id % 2 = 1 AND value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
          FROM events GROUP BY 1)
        SELECT grp, n_a, conv_a, n_b, conv_b,
          CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
          CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
          CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
            CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS lift,
          CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
              AND conv_a + conv_b < n_a + n_b THEN
            (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
             CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
            sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
              (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
              (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
          END AS z_score
        FROM cells ORDER BY grp""")),

    QueryDef("op_scd2_merge",
      // SCD2 MERGE-apply (the write half: op_scd2 builds, op_scd2_lookup
      // reads, this APPLIES a change batch): per-user updates bump the
      // attribute at max(ts)+1000 — every 4th user re-sends its current
      // attribute (noop idempotency), 7 synthetic keys insert — audited
      // per action with exact interval durations
      (s, d) => {
        val ev = eventsUs(s, d)
          .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val dim = ev.withColumn("valid_to", lead(col("ts_us"), 1).over(w))
          .select(col("user_id").as("key"), col("event_type").as("attr"),
            col("ts_us").as("valid_from"), col("valid_to"))
        val curAttr = ev.groupBy(col("user_id").as("k2"))
          .agg(max(struct(col("ts_us"), col("event_id"),
            col("event_type").as("et"))).getField("et").as("cur_attr"),
            max(col("ts_us")).as("_mx"))
        val updates = curAttr.select(col("k2").as("key"),
            when(col("k2") % 4 === 0, col("cur_attr"))
              .otherwise(concat(lit("v"), (col("k2") % 3).cast("string"))).as("attr"),
            (col("_mx") + 1000).as("ts"))
          .unionByName(ev.select((col("user_id") % 7 + 9000000).as("key")).distinct()
            .select(col("key"), lit("new").as("attr"), lit(0L).as("ts")))
        Transforms.scd2Apply(dim, updates)
          .groupBy(col("_action"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_current"),
            sum(when(col("valid_to").isNotNull, col("valid_to") - col("valid_from")))
              .as("dur_us"))
          .orderBySmall(col("_action"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
            FROM events),
          dim AS (SELECT user_id AS key, event_type AS attr, ts_us AS valid_from,
            lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to
            FROM ev),
          cur AS (SELECT key, attr, valid_from FROM dim WHERE valid_to IS NULL),
          la AS (SELECT user_id AS key, mx, event_type AS cur_attr FROM (
              SELECT user_id, event_type, max(ts_us) OVER (PARTITION BY user_id) AS mx,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts_us DESC, event_id DESC) AS rn
              FROM ev) WHERE rn = 1),
          upd AS (SELECT key,
              CASE WHEN key % 4 = 0 THEN cur_attr
                ELSE 'v' || CAST(key % 3 AS VARCHAR) END AS uattr,
              mx + 1000 AS uts
            FROM la
            UNION ALL
            SELECT DISTINCT user_id % 7 + 9000000 AS key, 'new' AS uattr, 0 AS uts FROM ev),
          j AS (SELECT coalesce(cur.key, upd.key) AS key, cur.attr, cur.valid_from,
              upd.uattr, upd.uts
            FROM cur FULL OUTER JOIN upd ON cur.key = upd.key),
          merged AS (
            SELECT key, attr, valid_from, valid_to, 'history' AS action
              FROM dim WHERE valid_to IS NOT NULL
            UNION ALL
            SELECT key, attr, valid_from, NULL, 'noop' FROM j
              WHERE uattr IS NULL OR (attr IS NOT NULL AND attr = uattr)
            UNION ALL
            SELECT key, attr, valid_from, uts, 'closed' FROM j
              WHERE attr IS NOT NULL AND uattr IS NOT NULL AND attr <> uattr
            UNION ALL
            SELECT key, uattr, uts, NULL, 'opened' FROM j
              WHERE attr IS NOT NULL AND uattr IS NOT NULL AND attr <> uattr
            UNION ALL
            SELECT key, uattr, uts, NULL, 'inserted' FROM j
              WHERE attr IS NULL AND uattr IS NOT NULL)
        SELECT action AS _action, count(*) AS n,
          CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
          CAST(sum(CASE WHEN valid_to IS NOT NULL THEN valid_to - valid_from END) AS BIGINT)
            AS dur_us
        FROM merged GROUP BY 1 ORDER BY 1""")),

    QueryDef("mix_epochs",
      // fractional-epoch source schedule (Llama/GPT data recipes):
      // src0 2.3 epochs, src1 1.0, src2 0.5, src3 dropped — full copies
      // plus a deterministic hash-selected partial epoch, each copy
      // tagged with its epoch index; per-(source, epoch) census out
      (s, d) => Sampling.mixByEpochs(t(s, d, "documents"), col("doc_id"),
          col("source"),
          centiEpochs = Map("src0" -> 230, "src1" -> 100, "src2" -> 50, "src3" -> 0))
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBySmall(col("source"), col("epoch")),
      Some("""WITH e AS (SELECT doc_id, source,
            CASE source WHEN 'src0' THEN 230 WHEN 'src1' THEN 100
              WHEN 'src2' THEN 50 WHEN 'src3' THEN 0 ELSE 100 END AS centi
          FROM documents),
        x AS (SELECT doc_id, source, centi,
            unnest(range(0, centi // 100 + CASE WHEN centi % 100 > 0 THEN 1 ELSE 0 END)) AS epoch
          FROM e)
        SELECT source, CAST(epoch AS INTEGER) AS epoch, count(*) AS n_docs
        FROM x
        WHERE epoch < centi // 100
           OR ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)), 1, 8))::BIGINT % 100 < centi % 100
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("op_acid_delete",
      // GDPR-style keyed DELETE through the ACID commit protocol:
      // tombstones anti-join every live dir copy-on-write, committed as a
      // new version — the oracle is the relational complement, so the
      // protocol must be invisible in the data
      (s, d) => {
        val root = freshScratchRoot(s, "del", d)
        val base = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        val mt = ManifestTable(s, root)
        mt.overwrite(base)
        mt.deleteByKeys(base.where(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey")), Seq("o_orderkey"))
        mt.snapshot().orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""")),

    QueryDef("ann_filtered_topk",
      // filtered vector search (the serving question "nearest WITH
      // label=1"): the metadata predicate applies BEFORE scoring
      // (pre-filter — exact recall by construction; post-filtering a
      // top-k shortlist can starve below k), then the same bounded
      // two-stage top-k as ann_cosine_topk over the thinned corpus
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.bruteForceTopK(e.where(annQueryPred),
            e.where(col("label") === 1), "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 2048),
        c AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
        s AS (SELECT qid, vec_id AS nid,
          list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * embedding[i]::DOUBLE)) /
          (sqrt(list_sum(list_transform(generate_series(1, 64), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
           sqrt(list_sum(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))) AS sim
          FROM c CROSS JOIN q WHERE vec_id <> qid)
        SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, nid AS neighbor_id FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM s)
        WHERE rank <= 5 ORDER BY query_id, rank""")),
  )
}
