package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._
import graft.Queries._

/** Registry chunk of [[Queries.all]] — model-evaluation family: AUC, confusion, calibration, lift, exact trainable models.
  * Split from the Queries.scala monolith (round 13) purely for review and
  * merge cost; shared helpers stay in [[Queries]] and every entry is
  * byte-identical to its pre-split form. 17 keys.
  */
private[graft] object QueriesMlEval {
  val defs: Seq[QueryDef] = Seq(
    // ---- model-evaluation family (the measurement half of the quality-
    // classifier curation loop: score → AUC / operating point /
    // calibration / lift). Labels and scores are planted deterministic
    // integer constructs over doc_id (correlated: positives shift +30),
    // so every metric is analytic and the hash check pins the full
    // computation, tie handling included. ----
    QueryDef("ml_auc",
      // exact ROC AUC via Mann–Whitney midranks: integer rank algebra
      // over the per-score group table (the unpartitioned cumsum window
      // sees |score domain| ≤ 101 rows, never the corpus), one IEEE
      // division at the end
      (s, d) => {
        val f = t(s, d, "documents").select(
          ((col("doc_id") * 37) % 71 +
            when(col("doc_id") % 3 === 0, 30).otherwise(0)).as("score"),
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y"))
        MlEval.aucExact(f, col("score"), col("y"))
          .orderBySmall(col("n_pos"))
      },
      Some("""WITH f AS (SELECT (doc_id*37) % 71 + CASE WHEN doc_id%3=0 THEN 30 ELSE 0 END AS s,
            CASE WHEN doc_id%3=0 THEN 1 ELSE 0 END AS y FROM documents),
        g AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos FROM f GROUP BY 1),
        w AS (SELECT s, cnt, pos, CAST(coalesce(sum(cnt) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below FROM g),
        a AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(cnt-pos) AS BIGINT) AS n_neg,
          CAST(sum(pos*(2*below+cnt+1)) AS BIGINT) AS r2 FROM w)
        SELECT n_pos, n_neg, r2 - n_pos*(n_pos+1) AS u2,
          CAST(r2 - n_pos*(n_pos+1) AS DOUBLE) / CAST(2*n_pos*n_neg AS DOUBLE) AS auc
        FROM a ORDER BY n_pos""")),

    QueryDef("ml_confusion",
      // confusion matrix + accuracy/precision/recall/F1 at threshold 50
      // — one aggregation, one row, each ratio a single division of
      // exact integers (F1 via the 2·tp identity: no intermediate float)
      (s, d) => {
        val f = t(s, d, "documents").select(
          ((col("doc_id") * 37) % 71 +
            when(col("doc_id") % 3 === 0, 30).otherwise(0)).as("score"),
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y"))
        MlEval.confusionReport(f, col("score"), col("y"), threshold = 50L)
          .orderBySmall(col("tp"))
      },
      Some("""WITH f AS (SELECT (doc_id*37) % 71 + CASE WHEN doc_id%3=0 THEN 30 ELSE 0 END AS s,
            CASE WHEN doc_id%3=0 THEN 1 ELSE 0 END AS y FROM documents),
        c AS (SELECT CAST(sum(CASE WHEN s>=50 AND y=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN s>=50 AND y=0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(sum(CASE WHEN s<50 AND y=1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          CAST(sum(CASE WHEN s<50 AND y=0 THEN 1 ELSE 0 END) AS BIGINT) AS tn FROM f)
        SELECT tp, fp, fn, tn,
          CAST(tp+tn AS DOUBLE)/CAST(tp+fp+fn+tn AS DOUBLE) AS accuracy,
          CAST(tp AS DOUBLE)/CAST(tp+fp AS DOUBLE) AS precision_,
          CAST(tp AS DOUBLE)/CAST(tp+fn AS DOUBLE) AS recall_,
          CAST(2*tp AS DOUBLE)/CAST(2*tp+fp+fn AS DOUBLE) AS f1
        FROM c ORDER BY tp""")),

    QueryDef("ml_calibration",
      // reliability table: centi-probability p buckets into 10 bins;
      // mean predicted prob is an exact decimal sum → one division,
      // empirical rate an integer ratio. Label depends on p plus a
      // deterministic residue "noise" term so the curve is monotone but
      // not degenerate
      (s, d) => {
        val f = t(s, d, "documents").select(
          ((col("doc_id") * 13) % 100).as("p"),
          when((col("doc_id") * 13) % 100 + (col("doc_id") % 7) * 5 >= 65, 1L)
            .otherwise(0L).as("y"))
        MlEval.calibrationBins(f, col("p"), col("y"))
          .orderBySmall(col("bin"))
      },
      Some("""WITH f AS (SELECT (doc_id*13) % 100 AS p,
            CASE WHEN (doc_id*13)%100 + (doc_id%7)*5 >= 65 THEN 1 ELSE 0 END AS y FROM documents)
        SELECT p//10 AS bin, count(*) AS n,
          CAST(sum(CAST(p AS DECIMAL(20,0))) AS DOUBLE)/CAST(100*count(*) AS DOUBLE) AS mean_pred,
          CAST(sum(y) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS pos_rate
        FROM f GROUP BY 1 ORDER BY 1""")),

    QueryDef("ml_lift",
      // per-source decile lift (gain chart): ntile within stratum
      // (score desc, id tiebreak — deterministic), response rate and
      // lift vs the stratum base rate; output bounded by 10·|sources|
      (s, d) => {
        val f = t(s, d, "documents").select(col("doc_id"), col("source"),
          ((col("doc_id") * 37) % 71 +
            when(col("doc_id") % 3 === 0, 30).otherwise(0)).as("score"),
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y"))
        MlEval.liftDeciles(f, col("source"), col("score"), col("doc_id"), col("y"))
          .orderBySmall(col("seg"), col("decile"))
      },
      Some("""WITH f AS (SELECT doc_id, source, (doc_id*37) % 71 + CASE WHEN doc_id%3=0 THEN 30 ELSE 0 END AS s,
            CASE WHEN doc_id%3=0 THEN 1 ELSE 0 END AS y FROM documents),
        dd AS (SELECT source AS seg, CAST(ntile(10) OVER (PARTITION BY source ORDER BY s DESC, doc_id) AS INTEGER) AS decile, y FROM f),
        g AS (SELECT seg, decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos FROM dd GROUP BY 1, 2),
        tt AS (SELECT seg, decile, n, n_pos, CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS seg_n,
          CAST(sum(n_pos) OVER (PARTITION BY seg) AS BIGINT) AS seg_pos FROM g)
        SELECT seg, decile, n, n_pos,
          CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE) AS rate,
          (CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE))/(CAST(seg_pos AS DOUBLE)/CAST(seg_n AS DOUBLE)) AS lift
        FROM tt ORDER BY seg, decile""")),

    QueryDef("ml_feature_hash",
      // signed hashing trick (Weinberger'09): fixed-dim sparse features
      // with NO vocabulary pass — md5 bucket + independent md5 sign bit,
      // one explode + one map-side-combined agg; per-doc sparse vectors
      // for a deterministic doc sample
      (s, d) => Features.featureHash(
          t(s, d, "documents").where(col("doc_id") % 20 === 0),
          col("doc_id"), col("text"), dim = 32)
        .orderBy(col("id"), col("bucket")),
      Some(s"""WITH tok AS (SELECT doc_id AS id,
            unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS tok
          FROM documents WHERE doc_id % 20 = 0)
        SELECT id, ${Features.hashFeatureBucketSql("tok", 32)} AS bucket,
          CAST(sum(${Features.hashFeatureSignSql("tok")}) AS BIGINT) AS weight
        FROM tok GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("ml_pca_project",
      // exact-moment PCA over an integer-lattice construct (the
      // ann_ivf_fit technique): features x1=(id%4), x2=2·((id÷4)%4),
      // x3=3·((id÷16)%4) over a ⌊N/64⌋·64-row prefix form COMPLETE
      // residue systems mod 64, so the covariance is exactly diagonal
      // with distinct eigenvalues {11.25, 5, 1.25} — the real code path
      // (one moment agg → exact BigDecimal covariance → cyclic Jacobi →
      // sign-pinned components → literal projection) produces an
      // analytic, hash-checkable answer. Header row doc_id = −1 carries
      // the top-2 eigenvalues
      (s, d) => {
        val docs = t(s, d, "documents")
        val L = (docs.count() / 64L) * 64L
        val feat = docs.where(col("doc_id") < L).select(col("doc_id"),
          (col("doc_id") % 4).cast("double").as("x1"),
          (expr("(doc_id div 4) % 4") * 2).cast("double").as("x2"),
          (expr("(doc_id div 16) % 4") * 3).cast("double").as("x3"))
        val fcols = Seq(col("x1"), col("x2"), col("x3"))
        val model = Features.pcaFit(feat, fcols)
        val pcs = Features.pcaProject(fcols, model, k = 2)
        val perDoc = feat.where(col("doc_id") % 10 === 0)
          .select(col("doc_id"), pcs(0), pcs(1))
        val header = s.range(1).select(lit(-1L).as("doc_id"),
          lit(model.eigenvalues(0)).as("pc1"), lit(model.eigenvalues(1)).as("pc2"))
        perDoc.unionByName(header).orderBy(col("doc_id"))
      },
      Some("""WITH nn AS (SELECT (count(*) // 64) * 64 AS L FROM documents),
        f AS (SELECT doc_id, CAST(doc_id % 4 AS DOUBLE) AS x1,
            CAST(((doc_id // 4) % 4) * 2 AS DOUBLE) AS x2,
            CAST(((doc_id // 16) % 4) * 3 AS DOUBLE) AS x3
          FROM documents, nn WHERE doc_id < nn.L),
        m AS (SELECT count(*) AS n,
            CAST(sum(CAST(x2 AS DECIMAL(28,6))) AS DOUBLE) AS s2,
            CAST(sum(CAST(x3 AS DECIMAL(28,6))) AS DOUBLE) AS s3,
            CAST(sum(CAST(x2*x2 AS DECIMAL(32,12))) AS DOUBLE) AS p2,
            CAST(sum(CAST(x3*x3 AS DECIMAL(32,12))) AS DOUBLE) AS p3
          FROM f),
        mm AS (SELECT s2/n AS mu2, s3/n AS mu3,
            (n*p3 - s3*s3)/(n*n) AS ev1, (n*p2 - s2*s2)/(n*n) AS ev2 FROM m)
        SELECT doc_id, x3 - mu3 AS pc1, x2 - mu2 AS pc2
        FROM f, mm WHERE doc_id % 10 = 0
        UNION ALL SELECT CAST(-1 AS BIGINT), ev1, ev2 FROM mm
        ORDER BY doc_id""")),

    QueryDef("op_attribution",
      // last-touch attribution: each purchase credits the user's most
      // recent STRICTLY-PRIOR marketing touch (view/click/signup), via
      // an ignore-nulls last() over the user timeline — one window
      // shuffle on user_id, bounded channel-count output
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val touch = when(col("event_type").isin("view", "click", "signup"),
          col("event_type"))
        eventsUs(s, d)
          .withColumn("channel",
            coalesce(last(touch, ignoreNulls = true).over(w), lit("none")))
          .where(col("event_type") === "purchase")
          .groupBy(col("channel"))
          .agg(count(lit(1)).as("n_conversions"))
          .orderBySmall(col("channel"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        a AS (SELECT event_type, coalesce(last_value(CASE WHEN event_type IN ('view','click','signup')
            THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'none') AS channel FROM e)
        SELECT channel, count(*) AS n_conversions
        FROM a WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_markov",
      // first-order Markov transition matrix over per-user event
      // sequences (boilerplate/bot detection feed): (state → next) counts
      // + exact conditional probability; one lead-window shuffle on
      // user_id, ≤|states|² output cells
      (s, d) => Analytics.markovTransitions(eventsUs(s, d), col("user_id"),
          Seq(col("ts_us"), col("event_id")), col("event_type"))
        .orderBySmall(col("from_state"), col("to_state")),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
        p AS (SELECT event_type AS from_state,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_state FROM e),
        g AS (SELECT from_state, to_state, count(*) AS n FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
        SELECT from_state, to_state, n,
          CAST(sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS row_total,
          CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE) AS p
        FROM g ORDER BY 1, 2""")),

    QueryDef("op_rfm",
      // RFM customer segmentation: per-customer recency (days to the
      // corpus horizon) / frequency / quantized monetary, each mapped to
      // a ties-together quartile via the aucExact group-cumsum pattern
      // (bounded distinct-value tables broadcast back — NEVER a global
      // ntile, which would single-partition the corpus), segment =
      // 100·R+10·F+M, bounded ≤64-row segment census
      (s, d) => {
        // persisted: the per-customer aggregate feeds THREE quartile maps
        // plus the final join — unpersisted it would re-run the orders
        // shuffle for every consumer (measured 6 jobs → this is the one
        // SF-scale pass; released by the harness clearCache)
        val per = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("_last"),
            count(lit(1)).as("freq"),
            dsum(col("o_totalprice"), 2).as("_mon"))
          .select(col("o_custkey"),
            datediff(lit("2001-12-31").cast("date"), col("_last").cast("date"))
              .cast("long").as("rec"),
            col("freq"),
            floor(col("_mon") / lit(1000.0)).cast("long").as("monk"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // every quartile map derives from the CACHED `per`, never from the
        // progressively joined frame: the attach joins are 1:1 (each map
        // covers every distinct value), so the value distributions are
        // identical on `per` — while building f_q/m_q from the widened
        // frame re-executed the prior broadcast joins inside each map job
        // (the exact per-row work the persist comment above avoids)
        def attach(df: DataFrame, c: String, q: String): DataFrame = {
          val m = Analytics.tiedQuartileMap(per, col(c))
            .select(col("v").as(s"_v_$q"), col("quartile").as(q))
          df.join(broadcast(m), col(c) === col(s"_v_$q")).drop(s"_v_$q")
        }
        val seg = attach(attach(attach(per, "rec", "r_q"), "freq", "f_q"), "monk", "m_q")
          .select((col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("segment"))
        seg.groupBy(col("segment")).agg(count(lit(1)).as("n_customers"))
          .orderBySmall(col("segment"))
      },
      Some("""WITH per AS (SELECT o_custkey,
            date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-12-31') AS rec,
            count(*) AS freq,
            CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) / 1000.0) AS BIGINT) AS monk
          FROM orders GROUP BY 1),
        rg AS (SELECT rec AS v, count(*) AS c FROM per GROUP BY 1),
        rq AS (SELECT v, least(4, (4 * CAST(coalesce(sum(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)) // CAST(sum(c) OVER () AS BIGINT) + 1) AS q FROM rg),
        fg AS (SELECT freq AS v, count(*) AS c FROM per GROUP BY 1),
        fq AS (SELECT v, least(4, (4 * CAST(coalesce(sum(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)) // CAST(sum(c) OVER () AS BIGINT) + 1) AS q FROM fg),
        mg AS (SELECT monk AS v, count(*) AS c FROM per GROUP BY 1),
        mq AS (SELECT v, least(4, (4 * CAST(coalesce(sum(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)) // CAST(sum(c) OVER () AS BIGINT) + 1) AS q FROM mg)
        SELECT rq.q * 100 + fq.q * 10 + mq.q AS segment, count(*) AS n_customers
        FROM per JOIN rq ON per.rec = rq.v JOIN fq ON per.freq = fq.v JOIN mq ON per.monk = mq.v
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_impute",
      // group-mean null imputation, reported: nulls planted
      // deterministically (event_id % 11), per-type missing census, the
      // imputation value, and the post-imputation total assembled as
      // sum_nonnull + n_missing·mean (two deterministic double ops on
      // exact inputs — per-row imputed-double summation would be
      // partition-order-dependent)
      (s, d) => Transforms.meanImputeReport(
          t(s, d, "events").select(col("event_type"),
            when(col("event_id") % 11 === 0, lit(null).cast("double"))
              .otherwise(col("value")).as("v")),
          col("event_type"), col("v"))
        .orderBySmall(col("grp")),
      Some("""WITH e AS (SELECT event_type AS grp,
            CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v FROM events),
        g AS (SELECT grp, count(*) AS n_rows,
            CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
            count(v) AS nv, sum(CAST(v AS DECIMAL(28,6))) AS s FROM e GROUP BY 1)
        SELECT grp, n_rows, n_missing,
          CAST(s AS DOUBLE) / CAST(nv AS DOUBLE) AS mean_used,
          CAST(s AS DOUBLE) + (CAST(s AS DOUBLE) / CAST(nv AS DOUBLE)) * CAST(n_missing AS DOUBLE) AS total_after
        FROM g ORDER BY grp""")),

    QueryDef("op_orc_roundtrip",
      // columnar-format interchange: write the projected documents table
      // as ORC (Spark-native source, predicate/pruning-capable like
      // parquet), read it back, aggregate — proves the full encode/decode
      // path; the oracle aggregates the original parquet, so any ORC
      // corruption breaks the hash
      (s, d) => {
        val dir = scratchDir("orc", d)
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBySmall(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_chi_square",
      // Pearson χ² decomposition over priority×status: per-cell expected
      // count + contribution (exact long products → one square, one
      // division), statistic folded in UTF-8 cell order over the bounded
      // cell table (float addition is not associative — an unordered SUM
      // would be engine-varying), mirrored by an ordered list_reduce
      (s, d) => Analytics.chiSquare(t(s, d, "orders"),
          col("o_orderpriority"), col("o_orderstatus"))
        .orderBySmall(col("a"), col("b")),
      Some("""WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS n_obs
          FROM orders GROUP BY 1, 2),
        t AS (SELECT a, b, n_obs,
            CAST(sum(n_obs) OVER (PARTITION BY a) AS BIGINT) AS r,
            CAST(sum(n_obs) OVER (PARTITION BY b) AS BIGINT) AS c,
            CAST(sum(n_obs) OVER () AS BIGINT) AS n FROM cells),
        e AS (SELECT a, b, n_obs,
            CAST(r*c AS DOUBLE)/CAST(n AS DOUBLE) AS expected,
            CAST(n_obs*n - r*c AS DOUBLE)*CAST(n_obs*n - r*c AS DOUBLE)/CAST(n*r*c AS DOUBLE) AS contrib
          FROM t),
        tot AS (SELECT list_reduce(list(contrib ORDER BY a, b), (x, y) -> x + y) AS chi2,
            CAST((count(DISTINCT a)-1)*(count(DISTINCT b)-1) AS BIGINT) AS deg_free FROM e)
        SELECT e.a, e.b, e.n_obs, e.expected, e.contrib, tot.chi2, tot.deg_free
        FROM e, tot ORDER BY a, b""")),

    QueryDef("op_schema_drift",
      // vendor-drop acceptance check: column-level profile diff between
      // two snapshots (v1 drops a column; v2 adds a nullable one) —
      // added/removed columns surface as one-sided rows, null/distinct
      // censuses as integer deltas; one linear pass + agg per side
      (s, d) => {
        val o = t(s, d, "orders")
        val v1 = o.where(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
        val v2 = o.where(col("o_orderkey") % 3 =!= 0)
          .withColumn("o_channel", when(col("o_orderkey") % 5 === 0,
            lit(null).cast("string")).otherwise(lit("web")))
        Analytics.profileDrift(v1, v2).orderBySmall(col("column_name"))
      },
      Some(profileDriftOracleSql(
        v1Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
        v2Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority", "o_channel")))),

    QueryDef("op_partition_pruning",
      // partition-layout interchange: write documents partitioned by
      // source (Hive-style directories), read back with a partition
      // predicate — the scan must prune to the two matching directories
      // (plan-asserted in PlanSpec); the oracle filters the original
      // parquet, so a partition-placement bug breaks the hash
      (s, d) => {
        val dir = scratchDir("part", d)
        t(s, d, "documents").write.mode("overwrite")
          .partitionBy("source").parquet(dir)
        s.read.parquet(dir)
          .where(col("source").isin("src0", "src1"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBySmall(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1 ORDER BY 1""")),

    QueryDef("txt_sparse_cosine",
      // exact tf-weighted pairwise cosine ≥ 4/5 with df-capped candidate
      // generation (the multiset complement of dedup_ngram_jaccard's set
      // Jaccard): integer-only threshold compare den²·dot² ≥ num²·‖a‖²‖b‖²
      // in DECIMAL — no sqrt, no float anywhere
      (s, d) => TextAnalysis.sparseCosinePairs(t(s, d, "documents"),
          "doc_id", "text", thrNum = 4, thrDen = 5, maxDf = 10, shingleN = 3)
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
          FROM documents),
        shl AS (SELECT doc_id, [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            FOR i IN generate_series(1, len(toks) - 2)] AS shingles
          FROM tk WHERE len(toks) >= 3),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(shingles) AS tok FROM shl) GROUP BY 1, 2),
        nm AS (SELECT doc_id, CAST(sum(tf*tf) AS BIGINT) AS nsq FROM tf GROUP BY 1),
        kept AS (SELECT doc_id, tok FROM (
            SELECT doc_id, tok, count(*) OVER (PARTITION BY tok) AS df FROM tf) WHERE df <= 10),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        dt AS (SELECT c.doc_a, c.doc_b, CAST(sum(ta.tf * tb.tf) AS BIGINT) AS dot
          FROM cand c JOIN tf ta ON ta.doc_id = c.doc_a
          JOIN tf tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
          GROUP BY 1, 2)
        SELECT dt.doc_a, dt.doc_b, dt.dot, na.nsq AS norm_a_sq, nb.nsq AS norm_b_sq
        FROM dt JOIN nm na ON na.doc_id = dt.doc_a JOIN nm nb ON nb.doc_id = dt.doc_b
        WHERE 25 * CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT)
          >= 16 * CAST(na.nsq AS HUGEINT) * CAST(nb.nsq AS HUGEINT)
        ORDER BY doc_a, doc_b""")),

    QueryDef("op_kcore",
      // k-core decomposition (k=3) on a planted graph whose core is
      // analytic: a K6 clique (+a 3-edge pendant that SURVIVES only
      // because its own pendant peels first — the cascade the iterative
      // algorithm exists for), an 8-cycle (2-core, peels round 1), and a
      // degree-1 tail. The Spark side runs the REAL fixpoint peel; the
      // oracle unrolls two peel rounds (the construct's exact depth)
      (s, d) => {
        val ids = t(s, d, "documents").select(col("doc_id"))
          .where(col("doc_id") < 48)
        val edges = ids.select(
          when(col("doc_id") < 36, expr("doc_id div 6"))
            .when(col("doc_id") < 44, lit(100L) + (col("doc_id") - 36))
            .when(col("doc_id") < 47, col("doc_id") - 44)
            .otherwise(lit(300L)).as("src"),
          when(col("doc_id") < 36, col("doc_id") % 6)
            .when(col("doc_id") < 44, lit(100L) + ((col("doc_id") - 36 + 1) % 8))
            .when(col("doc_id") < 47, lit(300L))
            .otherwise(lit(301L)).as("dst"))
        Analytics.kCore(edges, "src", "dst", k = 3)
          .orderBySmall(col("node"))
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
        raw AS (SELECT
            CASE WHEN doc_id < 36 THEN doc_id // 6
                 WHEN doc_id < 44 THEN 100 + (doc_id - 36)
                 WHEN doc_id < 47 THEN doc_id - 44
                 ELSE 300 END AS s,
            CASE WHEN doc_id < 36 THEN doc_id % 6
                 WHEN doc_id < 44 THEN 100 + ((doc_id - 36 + 1) % 8)
                 WHEN doc_id < 47 THEN 300
                 ELSE 301 END AS t
          FROM ids),
        e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b FROM raw WHERE s <> t),
        d1 AS (SELECT node, count(*) AS deg FROM
          (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        k1 AS (SELECT node FROM d1 WHERE deg >= 3),
        e1 AS (SELECT e0.a, e0.b FROM e0 JOIN k1 x ON e0.a = x.node JOIN k1 y ON e0.b = y.node),
        d2 AS (SELECT node, count(*) AS deg FROM
          (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
        k2 AS (SELECT node FROM d2 WHERE deg >= 3),
        e2 AS (SELECT e1.a, e1.b FROM e1 JOIN k2 x ON e1.a = x.node JOIN k2 y ON e1.b = y.node)
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
          (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_survivorship",
      // MDM golden-record merge: per customer each attribute survives
      // from its most recent NON-NULL row (a fresher row with a null
      // attribute must not erase an older value — statuses null out on
      // a planted rule to force the skip), via max(struct(recency,
      // value)) in ONE aggregation — no window, no join
      (s, d) => {
        val o = t(s, d, "orders").withColumn("status2",
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
        Aggregates.goldenRecord(o, col("o_custkey"),
          recency = Seq(col("o_orderdate"), col("o_orderkey")),
          payload = Seq("latest_status" -> col("status2"),
            "latest_price" -> col("o_totalprice")),
          extra = Seq(count(lit(1)).as("n_orders"),
            unix_micros(min(col("o_orderdate")).cast("timestamp")).as("first_date_us")))
          .orderBy(col("o_custkey"))
      },
      Some("""WITH o AS (SELECT *, CASE WHEN o_orderkey % 7 = 0 THEN NULL
            ELSE o_orderstatus END AS status2 FROM orders),
        st AS (SELECT o_custkey, status2 AS latest_status FROM o WHERE status2 IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
        pr AS (SELECT o_custkey, o_totalprice AS latest_price FROM o WHERE o_totalprice IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
        ag AS (SELECT o_custkey, count(*) AS n_orders, epoch_us(min(o_orderdate)) AS first_date_us
          FROM o GROUP BY 1)
        SELECT ag.o_custkey, st.latest_status, pr.latest_price, ag.n_orders, ag.first_date_us
        FROM ag LEFT JOIN st USING (o_custkey) LEFT JOIN pr USING (o_custkey)
        ORDER BY o_custkey""")),
  )
}
