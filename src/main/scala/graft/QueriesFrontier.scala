package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._
import graft.Queries._

/** Registry chunk of [[Queries.all]] — round-10+ waves: graph frontier ops, sequence patterns, table diff, recall certifications, gzip ingest, SQL-surface end-to-end, and later additions.
  * Split from the Queries.scala monolith (round 13) purely for review and
  * merge cost; shared helpers stay in [[Queries]] and every entry is
  * byte-identical to its pre-split form. 38 keys.
  */
private[graft] object QueriesFrontier {
  val defs: Seq[QueryDef] = Seq(
    // ---- round-10 wave: frontier / sequence / diff / recall ----

    QueryDef("op_skyline",
      // 2-D Pareto frontier over parts (minimize p_size, maximize
      // p_retailprice) via the bounded-cost-domain group-cumsum shape —
      // one corpus agg + a 50-row window + a broadcast probe, never the
      // quadratic NOT-EXISTS. The oracle replays the same analytic.
      (s, d) => Analytics.skyline2D(
          t(s, d, "part").select(col("p_partkey"), col("p_size"), col("p_retailprice")),
          "p_size", "p_retailprice")
        .orderBy(col("p_size"), col("p_partkey")),
      Some("""WITH pc AS (SELECT p_size, max(p_retailprice) AS vmax FROM part GROUP BY 1),
        fr AS (SELECT p_size, vmax FROM (
            SELECT p_size, vmax,
              max(vmax) OVER (ORDER BY p_size ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
            FROM pc) WHERE prev IS NULL OR vmax > prev)
        SELECT p.p_partkey, p.p_size, p.p_retailprice
        FROM part p JOIN fr ON p.p_size = fr.p_size AND p.p_retailprice = fr.vmax
        ORDER BY p.p_size, p.p_partkey""")),

    QueryDef("op_sequence_patterns",
      // contiguous 3-gram pattern mining over per-user event timelines
      // (the candidate-free PrefixSpan special case): one user-window
      // pass, one bounded agg (≤|types|³ = 125 cells at any SF)
      (s, d) => Analytics.sequencePatterns(eventsUs(s, d), col("user_id"),
          Seq(col("ts_us"), col("event_id")), col("event_type"), k = 3)
        .orderBySmall(col("n").desc, col("s0"), col("s1"), col("s2")),
      Some("""WITH g AS (SELECT event_type AS s0,
            lead(event_type, 1) OVER w AS s1, lead(event_type, 2) OVER w AS s2
          FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        SELECT s0, s1, s2, CAST(count(*) AS BIGINT) AS n FROM g
        WHERE s0 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL GROUP BY 1, 2, 3
        ORDER BY n DESC, s0, s1, s2""")),

    QueryDef("op_table_diff",
      // lakehouse version diff: v1 is a deterministic mutation of orders
      // (doubled prices on %10, deletes on %1000=7, inserts on %1000=1);
      // tableDiff classifies every key in ONE null-safe full-outer SMJ,
      // then a bounded 4-row status census with exact decimal sums
      (s, d) => {
        val v0 = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val v1 = v0.where(col("o_orderkey") % 1000 =!= 7)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
              .otherwise(col("o_totalprice")).as("o_totalprice"),
            col("o_orderstatus"))
          .unionByName(v0.where(col("o_orderkey") % 1000 === 1)
            .select((-col("o_orderkey") - 1).as("o_orderkey"),
              lit(1.0).as("o_totalprice"), lit("O").as("o_orderstatus")))
        Transforms.tableDiff(v0, v1, Seq("o_orderkey"),
            Seq("o_totalprice", "o_orderstatus"))
          .groupBy(col("diff_status"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice_old").cast("decimal(28,2)")).cast("double").as("sum_old"),
            sum(col("o_totalprice_new").cast("decimal(28,2)")).cast("double").as("sum_new"))
          .orderBySmall(col("diff_status"))
      },
      Some("""WITH v0 AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        v1 AS (SELECT o_orderkey,
            CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
            o_orderstatus
          FROM orders WHERE o_orderkey % 1000 <> 7
          UNION ALL SELECT -o_orderkey - 1, 1.0, 'O' FROM orders WHERE o_orderkey % 1000 = 1),
        dd AS (SELECT a.o_totalprice AS po, b.o_totalprice AS pn,
            CASE WHEN a.o_orderkey IS NULL THEN 'added'
                 WHEN b.o_orderkey IS NULL THEN 'removed'
                 WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                   OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus THEN 'changed'
                 ELSE 'unchanged' END AS diff_status
          FROM v0 a FULL OUTER JOIN v1 b ON a.o_orderkey = b.o_orderkey)
        SELECT diff_status, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(po AS DECIMAL(28,2))) AS DOUBLE) AS sum_old,
          CAST(sum(CAST(pn AS DECIMAL(28,2))) AS DOUBLE) AS sum_new
        FROM dd GROUP BY 1 ORDER BY 1""")),

    QueryDef("ann_recall_at_k",
      // the ANN EVALUATION harness: recall@5 of the IVF route→probe path
      // against exact brute force, per query, as exact integers (hits ∈
      // 0..5, recall in millionths) — the metric a 100-TB index tuning
      // loop actually monitors. Composes the two existing operators on
      // the integer lattice so the full funnel is hash-replayable.
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
          latticeVec.as("embedding"))
        val q = e.where(annQueryPred)
        val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
        val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", "label",
            k = 5, nprobe = 3)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
        exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(sum(coalesce(col("_hit"), lit(0))).cast("int").as("hits"))
          .select(col("query_id"), col("hits"),
            expr("CAST((hits * 1000000) div 5 AS BIGINT)").as("recall_millionths"))
          .orderBySmall(col("query_id"))
      },
      Some(s"""WITH $latticeBaseCte,
        ${meanCteSql("base", "label", "cent")},
        routed AS (SELECT s.vec_id AS qid, s.v AS qv, cent.label,
            ${cosSql("s.v", "cent.c")} AS c_sim
          FROM base s CROSS JOIN cent WHERE s.vec_id % 10 = 0 AND s.vec_id < 2048),
        probes AS (SELECT qid, qv, label FROM (
            SELECT qid, qv, label,
              row_number() OVER (PARTITION BY qid ORDER BY c_sim DESC, label ASC) AS pr
            FROM routed) WHERE pr <= 3),
        iscored AS (SELECT p.qid, s.vec_id AS nid, ${cosSql("p.qv", "s.v")} AS sim
          FROM probes p JOIN base s ON p.label = s.label WHERE s.vec_id <> p.qid),
        ivf AS (SELECT qid, nid FROM (
            SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
            FROM iscored) WHERE r <= 5),
        qq AS (SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id % 10 = 0 AND vec_id < 2048),
        escored AS (SELECT qq.qid, s.vec_id AS nid, ${cosSql("qq.qv", "s.v")} AS sim
          FROM base s CROSS JOIN qq WHERE s.vec_id <> qq.qid),
        exact AS (SELECT qid, nid FROM (
            SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
            FROM escored) WHERE r <= 5)
        SELECT e.qid AS query_id, CAST(count(i.nid) AS INTEGER) AS hits,
          CAST(count(i.nid) * 1000000 // 5 AS BIGINT) AS recall_millionths
        FROM exact e LEFT JOIN ivf i ON i.qid = e.qid AND i.nid = e.nid
        GROUP BY 1 ORDER BY 1""")),

    QueryDef("txt_doc_surprisal",
      // LM-based document quality: per-doc mean inverse bigram transition
      // probability in exact integer millionths (the log-free perplexity
      // stand-in — see TextAnalysis.docSurprisal's scaladoc), one final
      // IEEE division per doc
      (s, d) => TextAnalysis.docSurprisal(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id,
            list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
          FROM documents),
        g AS (SELECT doc_id,
            unnest([toks[i] || ' ' || toks[i+1] FOR i IN generate_series(1, len(toks) - 1)]) AS gram
          FROM tk WHERE len(toks) >= 2),
        nb AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_xy FROM g GROUP BY 1),
        nx AS (SELECT split_part(gram, ' ', 1) AS x, CAST(count(*) AS BIGINT) AS n_x
          FROM g GROUP BY 1),
        terms AS (SELECT g.doc_id, 1000000 * nx.n_x // nb.n_xy AS t
          FROM g JOIN nb USING (gram) JOIN nx ON nx.x = split_part(g.gram, ' ', 1))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_surprisal
        FROM terms GROUP BY 1 ORDER BY doc_id""")),

    QueryDef("mm_audio_neardup",
      // END-TO-END audio near-duplicate detection through the REAL codec
      // (mm_image_near_dup's shape for sound): encode WAVs whose 64
      // constant-amplitude 16-frame windows draw a deterministic energy
      // contour — groups of 4 consecutive decimated ids share a base
      // contour, members m>0 boost windows {5m, 5m+1} by 500, flipping at
      // most the two boundary delta bits — fingerprint with
      // Multimodal.audioFingerprint (63 sign-of-derivative bits), pair
      // via the SAME 4×16-bit pigeonhole band join the image/text dedup
      // families use. The oracle replays contour, bits, and the hamming
      // criterion analytically, so codec, fingerprint, and LSH must all
      // agree bit for bit.
      (s, d) => {
        import s.implicits._
        val ids = t(s, d, "embeddings").select(col("vec_id"))
          .where(col("vec_id") % 7 === 0).as[Long]
        val wav = ids.mapPartitions { it =>
          it.map { id =>
            val j = id / 7; val g = j / 4; val m = (j % 4).toInt
            val pcm = new Array[Byte](64 * 16 * 2)
            var w = 0
            while (w < 64) {
              val base = ((g * 31 + w * 17) % 997 + 10).toInt
              val amp = (base +
                (if (m > 0 && (w == 5 * m || w == 5 * m + 1)) 500 else 0)).toShort
              var f = 0
              while (f < 16) {
                val i = w * 16 + f
                pcm(2 * i) = (amp & 0xff).toByte; pcm(2 * i + 1) = (amp >> 8).toByte
                f += 1
              }
              w += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(
              new javax.sound.sampled.AudioInputStream(
                new java.io.ByteArrayInputStream(pcm), fmt, 1024L),
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            (id, bos.toByteArray)
          }
        }.toDF("vec_id", "payload")
        val fp = Multimodal.audioFingerprint(wav, "vec_id", windows = 64)
          .where(col("ok")).select(col("id"), col("fp"))
        Dedup.hammingNearDupPairs(fp, "id", "fp")
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH sel AS (SELECT vec_id, (vec_id // 7) // 4 AS g, (vec_id // 7) % 4 AS m
            FROM embeddings WHERE vec_id % 7 = 0),
        amp AS (SELECT vec_id, w,
            (g * 31 + w * 17) % 997 + 10 +
              CASE WHEN m > 0 AND (w = 5 * m OR w = 5 * m + 1) THEN 500 ELSE 0 END AS a
          FROM sel CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS w)),
        dd AS (SELECT vec_id, w, a AS a0,
            lead(a) OVER (PARTITION BY vec_id ORDER BY w) AS a1 FROM amp),
        fp AS (SELECT vec_id,
            CAST(sum(CASE WHEN a1 > a0 THEN 1::BIGINT << w ELSE 0 END) AS BIGINT) AS f
          FROM dd WHERE a1 IS NOT NULL GROUP BY 1)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.vec_id < b.vec_id
        WHERE bit_count(xor(a.f, b.f)) <= 3
        ORDER BY id_a, id_b""")),

    QueryDef("op_gini_impurity",
      // per-source Gini impurity of the language mix — the EXACT
      // (log-free) diversity signal; decimal squares mirror HUGEINT,
      // one final float division
      (s, d) => Analytics.giniImpurity(t(s, d, "documents"),
          col("source"), col("lang"))
        .select(col("grp").as("source"), col("n"), col("gini"))
        .orderBySmall(col("source")),
      Some("""WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY 1, 2),
          g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, sum(c * c) AS ssq
            FROM c GROUP BY 1)
        SELECT source, n,
          CAST(n::HUGEINT * n - ssq AS DOUBLE) / CAST(n::HUGEINT * n AS DOUBLE) AS gini
        FROM g ORDER BY source""")),

    QueryDef("op_benford",
      // Benford first-digit audit over order totals (integer cents):
      // exact observed shares vs the PRECOMPUTED log10(1+1/d) literal
      // table — no query-time logs, so both engines agree bit for bit
      (s, d) => Analytics.benfordAudit(t(s, d, "orders"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .orderBySmall(col("digit")),
      Some("""WITH v AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS x
            FROM orders WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0),
          c AS (SELECT CAST(substring(CAST(x AS VARCHAR), 1, 1) AS INTEGER) AS digit,
              CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
          t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
          e AS (SELECT digit, n,
              CAST(1000000 * n // total AS BIGINT) AS observed_millionths,
              CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938
                WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946
                WHEN 7 THEN 57991 WHEN 8 THEN 51152 WHEN 9 THEN 45757 END AS BIGINT)
                AS expected_millionths
            FROM c CROSS JOIN t)
        SELECT digit, n, observed_millionths, expected_millionths,
          abs(observed_millionths - expected_millionths) AS deviation_millionths
        FROM e ORDER BY digit""")),

    QueryDef("op_weighted_median",
      // weighted median of quantity weighted by price, per returnflag —
      // the aucExact group-cumsum shape for weighted quantiles: exact
      // decimal weights over the bounded quantity domain, lower-median
      // pick by exact comparison
      (s, d) => Analytics.weightedMedianQuantized(t(s, d, "lineitem"),
          col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .select(col("grp").as("l_returnflag"), col("median"), col("total_weight"))
        .orderBySmall(col("l_returnflag")),
      Some("""WITH wq AS (SELECT l_returnflag AS g, l_quantity AS v,
            sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS w
          FROM lineitem GROUP BY 1, 2),
        c AS (SELECT g, v, w,
            sum(w) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(w) OVER (PARTITION BY g) AS tot
          FROM wq)
        SELECT g AS l_returnflag, min(CASE WHEN cum * 2 >= tot THEN v END) AS median,
          CAST(max(tot) AS DOUBLE) AS total_weight
        FROM c GROUP BY 1 ORDER BY 1""")),

    QueryDef("ann_index_persist",
      // the STORED-index serving lifecycle (what a production vector store
      // actually does between fit and query): Lloyd's fit → write the
      // assignment table to parquet PARTITIONED BY CLUSTER + the centroid
      // table beside it → reload both → route queries with the reloaded
      // centroids → probe. Because the corpus is cluster-partitioned on
      // disk, the probe join on the partition column lets Spark prune
      // cells at scan time (dynamic partition pruning — the IVF payoff
      // expressed in STORAGE layout, not just join shape). Results must
      // equal the in-memory ann_ivf_fit exactly — same oracle — since
      // lattice doubles/floats and centroid doubles roundtrip parquet
      // bit-identically; a storage-layer type or partition bug breaks the
      // hash.
      (s, d) => {
        import s.implicits._
        val dir = scratchDir("ivfindex", d)
        val e = t(s, d, "embeddings").select(col("vec_id"), latticeVec.as("embedding"))
        val cents = Similarity.kmeansFit(e, "vec_id", "embedding",
          k = 16, iters = 3, seedKey = c => md5(c.cast("string")))
        e.withColumn("cluster", Similarity.nearestCentroid(col("embedding"), cents))
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/assign")
        cents.zipWithIndex.toSeq.map { case (c, j) => (j, c) }.toDF("j", "c")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/cents")
        val centsBack = s.read.parquet(s"$dir/cents").orderBy(col("j"))
          .collect().map(_.getSeq[Double](1).toArray)
        val corpus = s.read.parquet(s"$dir/assign")
        Similarity.ivfTopKFitted(corpus.where(annQueryPred), corpus,
            "vec_id", "embedding", "cluster", k = 5, nprobe = 4, centsBack)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      // identical math to ann_ivf_fit — the roundtrip must be invisible
      Some(s"""WITH $latticeBaseCte,
        ${kmeansCtesSql(k = 16, iters = 3)},
        ${labCteSql}
        ${ivfTailSql("lab", "lbl", nprobe = 4)}""")),

    QueryDef("op_interval_union",
      // covered time per user: each event opens an interval of
      // value-milliseconds; overlapping coverage must not double-count.
      // One key-window sweep, exact integer µs
      (s, d) => Analytics.intervalUnionLength(
          eventsUs(s, d).withColumn("end_us",
            col("ts_us") + expr("CAST(floor(value * 1000) AS BIGINT) * 1000")),
          col("user_id"), Seq(col("ts_us"), col("event_id")),
          col("ts_us"), col("end_us"))
        .withColumnRenamed("grp", "user_id")
        .orderBy(col("user_id")),
      Some("""WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
            epoch_us(ts) + CAST(floor(value * 1000) AS BIGINT) * 1000 AS e
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        sw AS (SELECT user_id, e,
            max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax, s
          FROM iv)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
          CAST(sum(greatest(e - greatest(s, coalesce(pmax, s)), 0)) AS BIGINT) AS covered
        FROM sw GROUP BY 1 ORDER BY user_id""")),

    QueryDef("op_graph_lcc",
      // per-node local clustering coefficient on the bounded orders mod
      // graph (97 nodes at any SF): the same degree-ordered triangle
      // enumeration as op_triangles, credited to each corner; the oracle
      // enumerates with id-ascending orientation — node counts are
      // invariant to the orientation total order, which the hash checks
      (s, d) => Analytics.localClustering(
          t(s, d, "orders").select((col("o_custkey") % 97).as("src"),
            (col("o_orderkey") % 97).as("dst")),
          "src", "dst")
        .orderBySmall(col("node")),
      Some("""WITH e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM (SELECT o_custkey % 97 AS src, o_orderkey % 97 AS dst FROM orders)
          WHERE src <> dst),
        deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM
          (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
          FROM e0 a JOIN e0 b ON b.u = a.v JOIN e0 c ON c.u = a.u AND c.v = b.v),
        tn AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS n_tri FROM
          (SELECT x FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
          GROUP BY 1)
        SELECT deg.x AS node, deg.d AS degree,
          CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_triangles,
          CASE WHEN deg.d >= 2 THEN
            CAST(coalesce(tn.n_tri, 0) * 2 AS DOUBLE) / CAST(deg.d * (deg.d - 1) AS DOUBLE)
          ELSE 0.0 END AS lcc
        FROM deg LEFT JOIN tn ON tn.node = deg.x ORDER BY node""")),

    QueryDef("op_autocorr",
      // lag-1..3 autocorrelation of the event value series per type —
      // exact decimal Pearson moments over lead pairs, corr as the
      // op_regression double tree (see Analytics.autocorrelation)
      (s, d) => Analytics.autocorrelation(eventsUs(s, d), col("event_type"),
          Seq(col("ts_us"), col("event_id")),
          expr("CAST(floor(value * 1000) AS BIGINT)"), maxLag = 3)
        .withColumnRenamed("grp", "event_type")
        .orderBySmall(col("event_type")),
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
            CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        l AS (SELECT event_type, v,
            lead(v, 1) OVER w AS l1, lead(v, 2) OVER w AS l2, lead(v, 3) OVER w AS l3
          FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        m AS (SELECT event_type,
            CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            sum(CASE WHEN l1 IS NOT NULL THEN v::HUGEINT END) AS sx1,
            sum(CASE WHEN l1 IS NOT NULL THEN l1::HUGEINT END) AS sy1,
            sum(CASE WHEN l1 IS NOT NULL THEN v::HUGEINT * v END) AS sxx1,
            sum(CASE WHEN l1 IS NOT NULL THEN l1::HUGEINT * l1 END) AS syy1,
            sum(CASE WHEN l1 IS NOT NULL THEN v::HUGEINT * l1 END) AS sxy1,
            CAST(sum(CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            sum(CASE WHEN l2 IS NOT NULL THEN v::HUGEINT END) AS sx2,
            sum(CASE WHEN l2 IS NOT NULL THEN l2::HUGEINT END) AS sy2,
            sum(CASE WHEN l2 IS NOT NULL THEN v::HUGEINT * v END) AS sxx2,
            sum(CASE WHEN l2 IS NOT NULL THEN l2::HUGEINT * l2 END) AS syy2,
            sum(CASE WHEN l2 IS NOT NULL THEN v::HUGEINT * l2 END) AS sxy2,
            CAST(sum(CASE WHEN l3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3,
            sum(CASE WHEN l3 IS NOT NULL THEN v::HUGEINT END) AS sx3,
            sum(CASE WHEN l3 IS NOT NULL THEN l3::HUGEINT END) AS sy3,
            sum(CASE WHEN l3 IS NOT NULL THEN v::HUGEINT * v END) AS sxx3,
            sum(CASE WHEN l3 IS NOT NULL THEN l3::HUGEINT * l3 END) AS syy3,
            sum(CASE WHEN l3 IS NOT NULL THEN v::HUGEINT * l3 END) AS sxy3
          FROM l GROUP BY 1)
        SELECT event_type, n1 AS n_pairs_1, n2 AS n_pairs_2, n3 AS n_pairs_3,
          CASE WHEN n1 > 0
              AND CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) > 0
              AND CAST(n1 AS DOUBLE) * CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) > 0
            THEN (CAST(n1 AS DOUBLE) * CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE)) /
              sqrt((CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) *
                (CAST(n1 AS DOUBLE) * CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE))) END AS acf_1,
          CASE WHEN n2 > 0
              AND CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) > 0
              AND CAST(n2 AS DOUBLE) * CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE) > 0
            THEN (CAST(n2 AS DOUBLE) * CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE)) /
              sqrt((CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)) *
                (CAST(n2 AS DOUBLE) * CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE))) END AS acf_2,
          CASE WHEN n3 > 0
              AND CAST(n3 AS DOUBLE) * CAST(sxx3 AS DOUBLE) - CAST(sx3 AS DOUBLE) * CAST(sx3 AS DOUBLE) > 0
              AND CAST(n3 AS DOUBLE) * CAST(syy3 AS DOUBLE) - CAST(sy3 AS DOUBLE) * CAST(sy3 AS DOUBLE) > 0
            THEN (CAST(n3 AS DOUBLE) * CAST(sxy3 AS DOUBLE) - CAST(sx3 AS DOUBLE) * CAST(sy3 AS DOUBLE)) /
              sqrt((CAST(n3 AS DOUBLE) * CAST(sxx3 AS DOUBLE) - CAST(sx3 AS DOUBLE) * CAST(sx3 AS DOUBLE)) *
                (CAST(n3 AS DOUBLE) * CAST(syy3 AS DOUBLE) - CAST(sy3 AS DOUBLE) * CAST(sy3 AS DOUBLE))) END AS acf_3
        FROM m ORDER BY 1""")),

    QueryDef("op_assortativity",
      // Newman's degree assortativity on the bounded orders mod graph —
      // symmetrized endpoint-degree Pearson from exact decimal moments,
      // one corr double tree (see Analytics.degreeAssortativity)
      (s, d) => Analytics.degreeAssortativity(
        t(s, d, "orders").select((col("o_custkey") % 97).as("src"),
          (col("o_orderkey") % 97).as("dst")), "src", "dst"),
      Some("""WITH e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM (SELECT o_custkey % 97 AS src, o_orderkey % 97 AS dst FROM orders)
          WHERE src <> dst),
        deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM
          (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        j AS (SELECT a.d AS du, b.d AS dv
          FROM e0 JOIN deg a ON a.x = e0.u JOIN deg b ON b.x = e0.v),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
            sum(du::HUGEINT + dv) AS sx,
            sum(du::HUGEINT * du + dv::HUGEINT * dv) AS sxx,
            sum(du::HUGEINT * dv * 2) AS sxy
          FROM j)
        SELECT n_edges,
          CASE WHEN CAST(n_edges * 2 AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(n_edges * 2 AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
              (CAST(n_edges * 2 AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS r
        FROM m""")),

    QueryDef("op_peaks_runs",
      // row-pattern census over the per-type event value series: local
      // extrema + longest strictly-monotone runs (gaps-and-islands) —
      // the MATCH_RECOGNIZE class, integer-exact
      (s, d) => Analytics.peakRunStats(eventsUs(s, d), col("event_type"),
          Seq(col("ts_us"), col("event_id")),
          expr("CAST(floor(value * 1000) AS BIGINT)"))
        .withColumnRenamed("grp", "event_type")
        .orderBySmall(col("event_type")),
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
            CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        m AS (SELECT event_type, ts_us, event_id, v,
            lag(v) OVER w AS prev, lead(v) OVER w AS nxt,
            CASE WHEN lag(v) OVER w IS NULL THEN 0
                 WHEN v > lag(v) OVER w THEN 1
                 WHEN v < lag(v) OVER w THEN -1 ELSE 0 END AS dir
          FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        m2 AS (SELECT event_type, ts_us, event_id, v, prev, nxt, dir,
            CASE WHEN lag(dir) OVER w2 IS NULL OR dir <> lag(dir) OVER w2
              THEN 1 ELSE 0 END AS chg
          FROM m WINDOW w2 AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        m3 AS (SELECT event_type, v, prev, nxt, dir,
            sum(chg) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM m2),
        runs AS (SELECT event_type,
            CAST(max(CASE WHEN dir = 1 THEN len END) AS BIGINT) AS lu,
            CAST(max(CASE WHEN dir = -1 THEN len END) AS BIGINT) AS ld
          FROM (SELECT event_type, run, dir, count(*) AS len FROM m3
            WHERE dir <> 0 GROUP BY 1, 2, 3) GROUP BY 1),
        peaks AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
              AND v > prev AND v > nxt THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
            CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
              AND v < prev AND v < nxt THEN 1 ELSE 0 END) AS BIGINT) AS n_valleys
          FROM m2 GROUP BY 1)
        SELECT p.event_type, n_rows, n_peaks, n_valleys,
          coalesce(lu, 0) AS longest_up, coalesce(ld, 0) AS longest_down
        FROM peaks p LEFT JOIN runs USING (event_type)
        ORDER BY p.event_type""")),

    QueryDef("op_bitemporal",
      // BITEMPORAL querying — the two time axes composed: TRANSACTION
      // time from ManifestTable versions (what the store knew when) ×
      // VALID time from SCD2 intervals (what was true when). Three
      // as-of reads prove the distinction: at transaction v1 the store
      // doesn't know the valid-time-100 change even when asked about
      // t=150 (t1v150); at v2 asking about t=50 still sees the OLD
      // attribute (the closed interval covers 50); only (v2, t=150)
      // sees the change. The oracle replays all three states
      // analytically from the construct.
      (s, d) => {
        // fresh-per-invocation root (the op_merge_acid discipline), NOT the
        // persistent scratchDir: this table is STATEFUL, and a second
        // same-JVM invocation (bench warmup + measured run) merging dim0
        // over the previous run's v2 would re-OPEN the closed (key, 0)
        // intervals last-write-wins — t1v150 would then count keys under
        // both attr and MOVED, silently diverging from the oracle
        val dir = freshScratchRoot(s, "bitemporal", d)
        val table = ManifestTable(s, s"$dir/dim")
        val dim0 = t(s, d, "customer").where(col("c_custkey") < 200)
          .select(col("c_custkey").as("key"), col("c_mktsegment").as("attr"),
            lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        table.merge(dim0, Seq("key", "valid_from"))
        val v1 = table.latestVersion().get
        val changed = dim0.where(col("key") % 3 === 0)
        val delta = changed.select(col("key"), col("attr"), col("valid_from"),
            lit(100L).as("valid_to"))
          .unionByName(changed.select(col("key"), lit("MOVED").as("attr"),
            lit(100L).as("valid_from"), lit(null).cast("long").as("valid_to")))
        table.merge(delta, Seq("key", "valid_from"))
        val v2 = table.latestVersion().get
        def asOf(v: Long, tq: Long, label: String) =
          table.snapshotAt(v)
            .where(col("valid_from") <= tq &&
              (col("valid_to").isNull || col("valid_to") > tq))
            .groupBy(col("attr"))
            .agg(count(lit(1)).as("n"))
            .select(lit(label).as("view"), col("attr"), col("n"))
        asOf(v1, 150L, "t1v150")
          .unionByName(asOf(v2, 50L, "t2v50"))
          .unionByName(asOf(v2, 150L, "t2v150"))
          .orderBySmall(col("view"), col("attr"))
      },
      Some("""WITH dim AS (SELECT c_custkey AS key, c_mktsegment AS attr
            FROM customer WHERE c_custkey < 200)
        SELECT * FROM (
          SELECT 't1v150' AS view, attr, CAST(count(*) AS BIGINT) AS n
            FROM dim GROUP BY 1, 2
          UNION ALL
          SELECT 't2v50', attr, CAST(count(*) AS BIGINT) FROM dim GROUP BY 1, 2
          UNION ALL
          SELECT 't2v150', CASE WHEN key % 3 = 0 THEN 'MOVED' ELSE attr END,
            CAST(count(*) AS BIGINT)
            FROM dim GROUP BY 1, 2)
        ORDER BY view, attr""")),

    QueryDef("op_lpm_join",
      // longest-prefix match: derived 32-bit keys against a 100-route
      // CIDR table — equi-join on (len, bucket) with per-key argmax
      // length (see Joins.longestPrefixMatch), per-route census out
      (s, d) => {
        val ips = t(s, d, "events")
          .select((col("user_id") * 2654435761L % 4294967296L).as("ip")).distinct()
        // network is the RAW 32-bit address — longestPrefixMatch masks the
        // host bits itself (the route side shifts by 32 − plen in-op)
        val routes = t(s, d, "customer").where(col("c_custkey") < 100)
          .select(col("c_custkey").as("rid"),
            (lit(8) + col("c_custkey") * 13 % 17).as("plen"),
            expr("(c_custkey * 40503103) % 4294967296").as("network"))
        Joins.longestPrefixMatch(ips, col("ip"), routes,
            col("network"), col("plen"), col("rid"))
          .groupBy(col("route_id"))
          .agg(max(col("plen")).as("plen"), count(lit(1)).as("n_ips"))
          .orderBySmall(col("route_id"))
      },
      Some("""WITH ips AS (SELECT DISTINCT (user_id * 2654435761) % 4294967296 AS key FROM events),
        routes AS (SELECT c_custkey AS rid,
            8 + (c_custkey * 13) % 17 AS plen,
            (c_custkey * 40503103) % 4294967296 AS network
          FROM customer WHERE c_custkey < 100),
        cand AS (SELECT i.key, r.rid, r.plen FROM ips i JOIN routes r
          ON i.key // (CAST(1 AS BIGINT) << (32 - r.plen)) =
             r.network // (CAST(1 AS BIGINT) << (32 - r.plen))),
        best AS (SELECT key, rid, plen,
            row_number() OVER (PARTITION BY key ORDER BY plen DESC, rid ASC) AS rn
          FROM cand)
        SELECT rid AS route_id, CAST(max(plen) AS INTEGER) AS plen,
          CAST(count(*) AS BIGINT) AS n_ips
        FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1""")),

    QueryDef("txt_kneser_ney",
      // interpolated Kneser-Ney bigram LM over the corpus — exact with
      // D = 3/4 (see TextAnalysis.knBigramProbs): integer numerator/
      // denominator over a common base, one IEEE division per bigram
      (s, d) => TextAnalysis.knBigramProbs(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("x"), col("y")),
      Some("""WITH tk AS (SELECT doc_id,
            list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS toks
          FROM documents),
        occ AS (SELECT split_part(gram, ' ', 1) AS x, split_part(gram, ' ', -1) AS y
          FROM (SELECT unnest([toks[i] || ' ' || toks[i+1]
              FOR i IN generate_series(1, len(toks) - 1)]) AS gram
            FROM tk WHERE len(toks) >= 2)),
        cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM occ GROUP BY 1, 2),
        cx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x, CAST(count(*) AS BIGINT) AS n1_x
          FROM cxy GROUP BY 1),
        n1y AS (SELECT y, CAST(count(*) AS BIGINT) AS n1_y FROM cxy GROUP BY 1),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM cxy)
        SELECT cxy.x, cxy.y, c_xy,
          CAST(greatest(c_xy * 4 - 3, 0)::HUGEINT * ntot + (n1_x * 3)::HUGEINT * n1_y AS DOUBLE) /
            CAST((c_x * 4)::HUGEINT * ntot AS DOUBLE) AS p_kn
        FROM cxy JOIN cx USING (x) JOIN n1y USING (y) CROSS JOIN nt
        ORDER BY cxy.x, cxy.y""")),

    QueryDef("ml_pr_curve",
      // the full precision-recall curve at every distinct threshold
      // (ml_auc's construct, curve instead of scalar): exact integer
      // TP/FP/FN from one descending cumsum over the bounded score
      // census, shares in millionths
      (s, d) => {
        val f = t(s, d, "documents").select(
          ((col("doc_id") * 37) % 71 +
            when(col("doc_id") % 3 === 0, 30).otherwise(0)).as("score"),
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("y"))
        MlEval.prCurve(f, col("score"), col("y"))
          .orderBySmall(col("threshold").desc)
      },
      Some("""WITH f AS (SELECT (doc_id*37) % 71 + CASE WHEN doc_id%3=0 THEN 30 ELSE 0 END AS s,
            CASE WHEN doc_id%3=0 THEN 1 ELSE 0 END AS y FROM documents),
        c AS (SELECT s AS threshold, CAST(sum(y) AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n
          FROM f GROUP BY 1),
        m AS (SELECT threshold,
            CAST(sum(pos) OVER (ORDER BY threshold DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
            CAST(sum(n) OVER (ORDER BY threshold DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp,
            CAST(sum(pos) OVER () AS BIGINT) AS ptot
          FROM c)
        SELECT threshold, tp, pp - tp AS fp, ptot - tp AS fn,
          CAST(1000000 * tp // pp AS BIGINT) AS precision_millionths,
          CAST(CASE WHEN ptot > 0 THEN 1000000 * tp // ptot END AS BIGINT) AS recall_millionths
        FROM m ORDER BY threshold DESC""")),

    QueryDef("txt_mojibake",
      // double-encoding (mojibake) detection — the web-corpus cleaning
      // signal: UTF-8-read-as-latin1 plants 'Ã'/'â€' marker sequences.
      // Markers are planted deterministically (%13 docs get a corrupted
      // tail) and censused per source with pure string expressions
      (s, d) => {
        val planted = t(s, d, "documents").select(col("source"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" cafÃ© â€” naÃ¯ve")))
            .otherwise(col("text")).as("text"))
        planted.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(instr(col("text"), "Ã") > 0 || instr(col("text"), "â€") > 0, 1L)
              .otherwise(0L)).as("n_mojibake_docs"),
            sum((length(col("text")) -
              length(expr("replace(text, 'Ã', '')"))).cast("long")).as("n_marker_chars"))
          .orderBySmall(col("source"))
      },
      Some("""WITH p AS (SELECT source,
            CASE WHEN doc_id % 13 = 0 THEN text || ' cafÃ© â€” naÃ¯ve' ELSE text END AS text
          FROM documents)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN strpos(text, 'Ã') > 0 OR strpos(text, 'â€') > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake_docs,
          CAST(sum(length(text) - length(replace(text, 'Ã', ''))) AS BIGINT) AS n_marker_chars
        FROM p GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_gzip_jsonl_source",
      // compressed-text ingest, the web-corpus landing shape (Common
      // Crawl WET/JSONL is gzip): write documents as gzip JSON-lines
      // through the REAL codec, read back with an EXPLICIT schema (no
      // inference pass — one scan job, exact types), aggregate; the
      // oracle aggregates the original table, so a codec, escaping, or
      // type-mapping bug anywhere in the roundtrip breaks the hash
      (s, d) => {
        val dir = scratchDir("gzjsonl", d)
        t(s, d, "documents")
          .select(to_json(struct(col("doc_id"), col("source"), col("n_chars"))).as("value"))
          .write.mode("overwrite").option("compression", "gzip").text(s"$dir/jl")
        s.read.schema("doc_id LONG, source STRING, n_chars LONG")
          .json(s"$dir/jl")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBySmall(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_hierarchy_flatten",
      // WITH RECURSIVE, Spark-style: root + depth for every node of the
      // binary-heap forest over customer keys (parent = (node−1) div 2;
      // two roots: 0 and the planted second tree at the top key), via
      // log-round pointer doubling. The oracle IS a recursive CTE —
      // DuckDB walks per level, the engine doubles, results must agree.
      (s, d) => {
        val nodes = t(s, d, "customer").select(col("c_custkey").as("node"),
          when(col("c_custkey") === 0, lit(null).cast("long"))
            .otherwise(expr("(c_custkey - 1) div 2")).as("parent"))
        Analytics.hierarchyFlatten(nodes, "node", "parent")
          .select(col("node"), col("root"), col("depth"))
          .orderBy(col("node"))
      },
      Some("""WITH RECURSIVE t AS (
          SELECT c_custkey AS node,
            CASE WHEN c_custkey = 0 THEN NULL ELSE (c_custkey - 1) // 2 END AS parent
          FROM customer),
        r AS (
          SELECT node, node AS root, CAST(0 AS BIGINT) AS depth FROM t WHERE parent IS NULL
          UNION ALL
          SELECT t.node, r.root, r.depth + 1 FROM t JOIN r ON t.parent = r.node)
        SELECT node, root, depth FROM r ORDER BY node""")),

    QueryDef("op_sql_surface",
      // the engine's SQL-facing API end to end: temp views + PURE
      // spark.sql text driving the registered graft_* scalar functions
      // (cosine kernel, C4 stats kernel, haversine) — what a SQL-only
      // user of the library runs. Every value is floored-integer or
      // exactly-rounded, so the DuckDB mirror replays it bit for bit.
      (s, d) => {
        graft.plans.Graft.install(s)
        t(s, d, "embeddings").select(col("vec_id"), latticeVec.as("v"))
          .where(col("vec_id") < 64).createOrReplaceTempView("g_emb")
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .where(col("doc_id") < 64).createOrReplaceTempView("g_docs")
        s.sql("""
          SELECT a.vec_id,
            CAST(floor(graft_cosine_sim(a.v, b.v) * 1000000) AS BIGINT) AS cos_next_micro,
            element_at(graft_c4_stats(d.text), 2) AS n_words,
            CAST(floor(graft_haversine_km(
              (a.vec_id * 7 % 1200) / 10.0 - 60.0, (a.vec_id * 13 % 3000) / 10.0 - 150.0,
              (b.vec_id * 91 % 1200) / 10.0 - 60.0, (b.vec_id * 53 % 3000) / 10.0 - 150.0
            ) * 1000) AS BIGINT) AS dist_milli
          FROM g_emb a
          JOIN g_emb b ON b.vec_id = a.vec_id + 1
          JOIN g_docs d ON d.doc_id = a.vec_id
          ORDER BY a.vec_id""")
      },
      Some(s"""WITH $latticeBaseCte,
        e AS (SELECT vec_id, v FROM base WHERE vec_id < 64)
        SELECT a.vec_id,
          CAST(floor((${cosSql("a.v", "b.v")}) * 1000000) AS BIGINT) AS cos_next_micro,
          CAST(len(list_filter(string_split_regex(d.text, '\\s+'), x -> len(x) > 0)) AS BIGINT)
            AS n_words,
          CAST(floor(${havSql(
            "((a.vec_id * 7 % 1200) / 10.0 - 60.0)", "((a.vec_id * 13 % 3000) / 10.0 - 150.0)",
            "((b.vec_id * 91 % 1200) / 10.0 - 60.0)", "((b.vec_id * 53 % 3000) / 10.0 - 150.0)")} * 1000)
            AS BIGINT) AS dist_milli
        FROM e a
        JOIN e b ON b.vec_id = a.vec_id + 1
        JOIN (SELECT doc_id, text FROM documents WHERE doc_id < 64) d ON d.doc_id = a.vec_id
        ORDER BY a.vec_id""")),

    QueryDef("op_mask_referential",
      // referentially-consistent pseudonymization (the governance op that
      // lets masked data still JOIN): name → 'C' + md5-prefix pseudonym,
      // deterministic so every occurrence masks identically. The audit
      // proves both properties the op exists for: per segment, distinct
      // pseudonyms == distinct originals (injective on this corpus — a
      // collision would break analysis joins) and an order-independent
      // digest over the pseudonym set the oracle reproduces from the raw
      // names. One aggregation; masking itself is a pure codegen
      // projection at ANY scale.
      (s, d) => {
        val masked = t(s, d, "customer").select(col("c_mktsegment"),
          col("c_custkey"), col("c_name"),
          concat(lit("C"), substring(md5(col("c_name")), 1, 12)).as("pseudonym"))
        masked.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("c_name")).as("n_names"),
            countDistinct(col("pseudonym")).as("n_pseudonyms"),
            // 48-bit terms summed in DECIMAL(38,0) (mirrors HUGEINT), emitted
            // as a digit STRING: a BIGINT sum wraps near 32k rows/group on
            // the Spark side while DuckDB's HUGEINT->BIGINT cast would
            // throw — the tableChecksum dtype discipline
            sum(conv(substring(md5(col("pseudonym")), 1, 12), 16, 10)
              .cast("decimal(38,0)")).cast("string").as("pseudonym_digest"))
          .orderBySmall(col("c_mktsegment"))
      },
      Some("""WITH m AS (SELECT c_mktsegment, c_name,
            'C' || substring(md5(c_name), 1, 12) AS pseudonym FROM customer)
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT c_name) AS BIGINT) AS n_names,
          CAST(count(DISTINCT pseudonym) AS BIGINT) AS n_pseudonyms,
          CAST(sum(('0x' || substring(md5(pseudonym), 1, 12))::BIGINT) AS VARCHAR)
            AS pseudonym_digest
        FROM m GROUP BY 1 ORDER BY 1""")),

    QueryDef("op_column_encryption",
      // column-level encryption lifecycle through Spark's REAL AES path
      // (deterministic ECB + PKCS for oracle-ability; GCM's random IV is
      // the production default but non-replayable): encrypt names,
      // decrypt them back, and prove the roundtrip with an
      // order-independent digest over the DECRYPTED values that the
      // oracle computes from the raw names — a key, padding, or charset
      // bug anywhere in the crypto path breaks the hash.
      (s, d) => {
        val key = "0123456789abcdef" // 16-byte demo key; prod: per-column KMS
        val enc = t(s, d, "customer").select(col("c_mktsegment"),
          expr(s"aes_encrypt(c_name, '$key', 'ECB', 'PKCS')").as("enc"))
        val dec = enc.select(col("c_mktsegment"),
          expr(s"CAST(aes_decrypt(enc, '$key', 'ECB', 'PKCS') AS STRING)").as("name_back"))
        dec.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_rows"),
            sum(conv(substring(md5(col("name_back")), 1, 12), 16, 10)
              .cast("decimal(38,0)")).cast("string").as("roundtrip_digest"))
          .orderBySmall(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(('0x' || substring(md5(c_name), 1, 12))::BIGINT) AS VARCHAR)
            AS roundtrip_digest
        FROM customer GROUP BY 1 ORDER BY 1""")),

    {
      // closed-form MULTIVARIATE OLS (price ~ quantity + discount%) by
      // Cramer's rule on exact decimal moments; determinant trees shared
      // structurally between engines (det3 / det3Sql) so the float
      // evaluation order cannot drift
      val dA = det3Sql(Seq(Seq("n", "s1", "s2"), Seq("s1", "s11", "s12"), Seq("s2", "s12", "s22")))
      val d0 = det3Sql(Seq(Seq("sy", "s1", "s2"), Seq("s1y", "s11", "s12"), Seq("s2y", "s12", "s22")))
      val d1 = det3Sql(Seq(Seq("n", "sy", "s2"), Seq("s1", "s1y", "s12"), Seq("s2", "s2y", "s22")))
      val d2 = det3Sql(Seq(Seq("n", "s1", "sy"), Seq("s1", "s11", "s1y"), Seq("s2", "s12", "s2y")))
      QueryDef("ml_ols_multi",
        (s, d) => Analytics.ols2(t(s, d, "lineitem"),
          col("l_quantity"),
          expr("CAST(floor(l_discount * 100 + 0.5) AS INT)"),
          col("l_extendedprice"), yScale = 2),
        Some(s"""WITH src AS (SELECT l_quantity AS x1,
            CAST(floor(l_discount * 100 + 0.5) AS INTEGER) AS x2,
            l_extendedprice AS yy FROM lineitem),
          mm AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CAST(x1 AS DECIMAL(18,0))) AS DOUBLE) AS s1,
            CAST(sum(CAST(x2 AS DECIMAL(18,0))) AS DOUBLE) AS s2,
            CAST(sum(CAST(x1 * x1 AS DECIMAL(20,0))) AS DOUBLE) AS s11,
            CAST(sum(CAST(x1 * x2 AS DECIMAL(20,0))) AS DOUBLE) AS s12,
            CAST(sum(CAST(x2 * x2 AS DECIMAL(20,0))) AS DOUBLE) AS s22,
            CAST(sum(CAST(yy AS DECIMAL(24,2))) AS DOUBLE) AS sy,
            CAST(sum(CAST(x1 * yy AS DECIMAL(28,2))) AS DOUBLE) AS s1y,
            CAST(sum(CAST(x2 * yy AS DECIMAL(28,2))) AS DOUBLE) AS s2y
          FROM src),
          mv AS (SELECT n_rows, CAST(n_rows AS DOUBLE) AS n,
            s1, s2, s11, s12, s22, sy, s1y, s2y FROM mm)
        SELECT n_rows,
          CASE WHEN $dA <> 0 THEN $d0 / $dA END AS b0,
          CASE WHEN $dA <> 0 THEN $d1 / $dA END AS b1,
          CASE WHEN $dA <> 0 THEN $d2 / $dA END AS b2
        FROM mv"""))
    },

    QueryDef("ann_index_incremental",
      // INCREMENTAL index maintenance (dedup_incremental's shape for
      // vectors): fit centroids on the HISTORY half only, store its
      // assignments; a new batch is assigned with the FROZEN centroids
      // and APPENDED to the same cluster-partitioned table — no refit, no
      // history rewrite (the production steady state: refits are rare
      // compaction events, appends are the every-batch path). Queries
      // then probe the combined index. The oracle fits over the history
      // subset and assigns everything with those frozen centroids —
      // bit-identical by the lattice contract.
      (s, d) => {
        val dir = scratchDir("ivfinc", d)
        val e = t(s, d, "embeddings").select(col("vec_id"), latticeVec.as("embedding"))
        val hist = e.where(col("vec_id") % 2 === 0)
        val batch = e.where(col("vec_id") % 2 === 1)
        val cents = Similarity.kmeansFit(hist, "vec_id", "embedding",
          k = 16, iters = 3, seedKey = c => md5(c.cast("string")))
        hist.withColumn("cluster", Similarity.nearestCentroid(col("embedding"), cents))
          .write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/assign")
        batch.withColumn("cluster", Similarity.nearestCentroid(col("embedding"), cents))
          .write.mode("append").partitionBy("cluster").parquet(s"$dir/assign")
        val corpus = s.read.parquet(s"$dir/assign")
        Similarity.ivfTopKFitted(corpus.where(annQueryPred), corpus,
            "vec_id", "embedding", "cluster", k = 5, nprobe = 4, cents)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $latticeBaseCte,
        hist AS (SELECT vec_id, v FROM base WHERE vec_id % 2 = 0),
        ${kmeansCtesSql(k = 16, iters = 3, src = "hist")},
        ${labCteSql}
        ${ivfTailSql("lab", "lbl", nprobe = 4)}""")),

    QueryDef("dedup_minhash_recall",
      // the DEDUP evaluation harness (ann_recall_at_k's pattern for
      // near-dup): over a BOUNDED doc sample (constant cardinality at any
      // SF — the ground-truth side is |sample|²-bounded by construction,
      // never corpus-quadratic), the exact shingle-sharing pair set
      // (complete for jaccard > 0: any qualifying pair shares a shingle)
      // vs the banded minhash pipeline's verified pairs. Verified found ⊆
      // exact, so recall isolates exactly the banding misses — the number
      // an LSH tuning loop (bands × rows trade) actually monitors.
      (s, d) => {
        val base = t(s, d, "documents")
          .where(col("doc_id") % 5 === 0 && col("doc_id") < 2048)
          .select(col("doc_id"), col("text"))
        // plant one near-dup per sampled doc (tail-perturbed copy) so the
        // ground-truth pair set is non-vacuous at every SF — the corpus'
        // natural word-salad rarely crosses the 0.1 jaccard bar
        val sample = base.unionByName(base.select(
          (col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" closing boilerplate line appended")).as("text")))
        val sh = Dedup.shingleTable(sample, "doc_id", "text", 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
        val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
        val candAll = a.join(b.hint("merge"), Seq("shingle"))
          .where(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
        val exact = Dedup.jaccardVerify(candAll, sh, "doc_id", 0.1)
          .select("doc_a", "doc_b")
        val found = Dedup.minhashNearDupPairsFromShingles(sh, "doc_id", threshold = 0.1)
          .select("doc_a", "doc_b")
        val missed = exact.join(found, Seq("doc_a", "doc_b"), "left_anti")
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(found.agg(count(lit(1)).as("n_found")))
          .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
          .select(col("n_exact"), col("n_found"), col("n_missed"),
            expr("CAST(CASE WHEN n_exact > 0 THEN 1000000 * n_found div n_exact END AS BIGINT)")
              .as("recall_millionths"))
      },
      Some(minhashRecallOracleSql(threshold = 0.1))),

    QueryDef("op_mann_whitney",
      // nonparametric two-sample test: does quantity distribute
      // differently across linestatus F vs O? Exact doubled-midrank
      // algebra over the bounded quantity domain; only z is float (one
      // fixed IEEE expression sequence — see mannWhitney's scaladoc)
      (s, d) => Analytics.mannWhitney(t(s, d, "lineitem"),
        col("l_quantity"), col("l_linestatus") === "F"),
      Some("""WITH cells AS (SELECT l_quantity AS v,
            CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(count(*) AS BIGINT) AS ct
          FROM lineitem GROUP BY 1),
        ranked AS (SELECT ca, ct,
            coalesce(CAST(sum(ct) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below
          FROM cells),
        m AS (SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(ct) AS BIGINT) AS n,
            sum(ca::HUGEINT * (below * 2 + ct + 1)) AS r1x2,
            sum(ct::HUGEINT * ct * ct - ct) AS ties
          FROM ranked),
        s1 AS (SELECT n1, n - n1 AS n2, n, r1x2, ties FROM m),
        s2 AS (SELECT n1, n2,
            n1::HUGEINT * n2 * 2 + n1::HUGEINT * (n1 + 1) - r1x2 AS u1x2,
            n1::HUGEINT * n2 * ((n + 1)::HUGEINT * n * (n - 1) - ties) AS v12,
            n
          FROM s1)
        SELECT n1, n2, CAST(u1x2 AS DOUBLE) AS u1_x2,
          CASE WHEN v12 > 0 AND n1 > 0 AND n2 > 0 THEN
            (CAST(u1x2 - n1::HUGEINT * n2 AS DOUBLE) / 2) /
              sqrt(CAST(v12 AS DOUBLE) / CAST(12::HUGEINT * n * (n - 1) AS DOUBLE))
          END AS z
        FROM s2""")),

    QueryDef("mix_curriculum",
      // curriculum interleave: per-source difficulty rank (easy first,
      // key ties) — sorting by (rank, source, key) is the round-robin
      // schedule; no corpus-wide row_number is ever materialized
      (s, d) => Sampling.curriculumInterleave(t(s, d, "documents"),
          col("doc_id"), col("source"), col("n_chars"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("curriculum_rank"))
        .orderBy(col("curriculum_rank"), col("source"), col("doc_id")),
      Some("""SELECT doc_id, source, n_chars,
          CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS INTEGER)
            AS curriculum_rank
        FROM documents ORDER BY curriculum_rank, source, doc_id""")),

    QueryDef("op23_csv_roundtrip",
      // CSV staging-sink interchange (§2 op 23 — the reference stages
      // every extract as a CSV file, global_dag.py:57,67): write the
      // projected documents table through Sinks.csvSink, read it back
      // with an EXPLICIT schema (CSV is type-lossy; inference would
      // round-trip doc_id as string and break the hash), aggregate. The
      // oracle aggregates the ORIGINAL parquet, so a header, quoting, or
      // type-mapping bug anywhere in the encode/decode path diverges.
      (s, d) => {
        val dir = scratchDir("csvsink", d)
        Sinks.csvSink(t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")), dir)
        s.read.option("header", "true")
          .schema("doc_id LONG, source STRING, n_chars LONG").csv(dir)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBySmall(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents GROUP BY 1 ORDER BY 1""")),

    QueryDef("op25_ddl_create",
      // first-write DDL (§2 op 25 — create_death_table.sql:4-10 is the
      // reference's CREATE TABLE IF NOT EXISTS): the store is dropped up
      // front so the FIRST idempotentJdbcAppend must derive the DDL from
      // the batch schema and create the table; the SECOND append re-sends
      // an OVERLAPPING batch (all rows, first sent only even doc_ids) and
      // must insert exactly the unseen keys — ON CONFLICT DO NOTHING done
      // relationally. The read-back aggregate equals the distinct union
      // and the per-call insert counts are part of the hashed row, so a
      // skipped creation, a doubled insert, or a DDL type-mapping bug all
      // diverge from the oracle.
      (s, d) => {
        val dir = scratchDir("ddl", d)
        val url = s"jdbc:derby:$dir/db;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        org.apache.spark.sql.GraftBridge.jdbcDropIfExists(url, "ddl_docs", props)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val n1 = Sinks.idempotentJdbcAppend(s, docs.where(col("doc_id") % 2 === 0),
          url, "ddl_docs", Seq("doc_id"), props)
        val n2 = Sinks.idempotentJdbcAppend(s, docs, url, "ddl_docs",
          Seq("doc_id"), props)
        s.read.format("jdbc").option("url", url).option("dbtable", "ddl_docs")
          .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
          .agg(count(lit(1)).as("n_total"), sum(col("n_chars")).as("sum_chars"))
          .select(lit(n1).as("n_first"), lit(n2).as("n_second"),
            col("n_total"), col("sum_chars"))
      },
      Some("""SELECT (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_first,
          (SELECT count(*) FROM documents WHERE doc_id % 2 <> 0) AS n_second,
          count(*) AS n_total, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents""")),

    QueryDef("op21_branch_gate",
      // non-empty branch gate (§2 op 21 — the reference's
      // BranchPythonOperator skips the load when the extract came back
      // empty, global_dag.py:151-159): writeIfNonEmpty on a vacuously
      // empty filter must NOT write (the skip leg — asserted by probing
      // the sink path, folded into the hashed row), and on a non-empty
      // filter must write exactly the filtered rows; the read-back
      // aggregate ties the gate to real data so both legs are
      // oracle-checked in one key.
      (s, d) => {
        val dir = scratchDir("gate", d)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val skipped = dir + "/skipped"
        val taken = dir + "/taken"
        val wroteEmpty = Sinks.writeIfNonEmpty(docs.where(col("n_chars") < 0),
          _.write.mode("overwrite").parquet(skipped))
        val wroteTaken = Sinks.writeIfNonEmpty(docs.where(col("source") === "src0"),
          _.write.mode("overwrite").parquet(taken))
        // probe through the path's HADOOP filesystem, not java.io.File:
        // the write resolves against the default FS, so on a cluster
        // posture a local-disk probe would return false even if the empty
        // leg HAD written — silently un-asserting the skip check
        val skipPath = new org.apache.hadoop.fs.Path(skipped)
        val skipLegWrote = skipPath
          .getFileSystem(s.sparkContext.hadoopConfiguration).exists(skipPath)
        s.read.parquet(taken)
          .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
          .select(lit(wroteEmpty || skipLegWrote).as("empty_leg_wrote"),
            lit(wroteTaken).as("nonempty_leg_wrote"),
            col("n_rows"), col("sum_chars"))
      },
      Some("""SELECT false AS empty_leg_wrote, true AS nonempty_leg_wrote,
          count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE source = 'src0'""")),

    QueryDef("ann_ivf_bigk",
      // the LARGE-CELL-COUNT IVF routing path (ivfTopKFittedBigK):
      // centroids as a broadcast TABLE + bounded two-stage top-nprobe
      // probe selection, instead of ann_ivf_fit's literal expression
      // ranking — the plan that survives production cell counts
      // (10⁴–10⁶ cells) where a literal tree explodes Catalyst. Same
      // fit, same data, same (c_sim desc, cluster asc) probe order, SAME
      // ORACLE as ann_ivf_fit: the two routing paths must be
      // hash-identical, so a divergence in either is caught twice over.
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
          latticeVec.as("embedding"))
        val cents = Similarity.kmeansFit(e, "vec_id", "embedding",
          k = 16, iters = 3, seedKey = c => md5(c.cast("string")))
        val labeled = e.withColumn("cluster",
          Similarity.nearestCentroid(col("embedding"), cents))
        Similarity.ivfTopKFittedBigK(labeled.where(annQueryPred), labeled,
            "vec_id", "embedding", "cluster", k = 5, nprobe = 4, cents)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $latticeBaseCte,
        ${kmeansCtesSql(k = 16, iters = 3)},
        ${labCteSql}
        ${ivfTailSql("lab", "lbl", nprobe = 4)}""")),

    QueryDef("ann_ivf_unbounded",
      // the UNBOUNDED-QUERY-SET big-k routing (round-13 probe-broadcast
      // guard, QueryBatchMode.Unbounded): identical fit, data, and probe
      // order as ann_ivf_bigk, but the probe list joins the corpus with
      // shuffle-hash joins instead of broadcasting |Q|·nprobe rows with
      // vectors through the driver — the plan a corpus-scale query batch
      // needs. THIRD user of ann_ivf_fit's oracle: all three routing
      // paths (literal expressions, broadcast table, shuffled probes)
      // must hash-identically, so a divergence anywhere is caught three
      // ways.
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
          latticeVec.as("embedding"))
        val cents = Similarity.kmeansFit(e, "vec_id", "embedding",
          k = 16, iters = 3, seedKey = c => md5(c.cast("string")))
        val labeled = e.withColumn("cluster",
          Similarity.nearestCentroid(col("embedding"), cents))
        Similarity.ivfTopKFittedBigK(labeled.where(annQueryPred), labeled,
            "vec_id", "embedding", "cluster", k = 5, nprobe = 4, cents,
            Similarity.QueryBatchMode.Unbounded)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $latticeBaseCte,
        ${kmeansCtesSql(k = 16, iters = 3)},
        ${labCteSql}
        ${ivfTailSql("lab", "lbl", nprobe = 4)}""")),

    QueryDef("emb_srp_recall",
      // SRP-LSH recall certification (the dedup_minhash_recall harness on
      // the EMBEDDING side): over a bounded sample, plant one near-dup per
      // vector (per-dim EXACT-arithmetic scale 1 + 0.02·((id+i)%7 − 3) —
      // no transcendentals, so both engines build bit-identical vectors;
      // the Kantorovich bound puts every planted cosine ≥ 0.998 while
      // naturals top out at 0.479, so ground truth is analytically the
      // planted pair set). Banding is DELIBERATELY weak — 2 tables, no
      // multiprobe — so recall is genuinely < 1 and the key MEASURES the
      // banding miss rate: the oracle replays the md5-derived ±1 planes
      // and the kernel's left-to-right double accumulation in SQL, so a
      // plane-derivation, bucketing, or verify bug shifts n_found and
      // breaks the hash.
      (s, d) => {
        val sample = t(s, d, "embeddings")
          .where(col("vec_id") % 5 === 0 && col("vec_id") < 2048)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        // the base id is renamed FIRST: in a single select, Spark's lateral
        // column alias resolution binds the lambda's vec_id to the negated
        // output alias, silently perturbing by the WRONG id (caught by this
        // key's own oracle during development)
        val pert = sample.select(col("vec_id").as("_bid"), col("embedding"))
          .select((-col("_bid") - 1).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              x * (lit(1.0) + lit(0.02) * ((col("_bid") + i) % 7 - 3).cast("double")))
              .as("embedding"))
        val found = Similarity.embeddingNearDupPairs(sample.unionByName(pert),
          "vec_id", "embedding", numTables = 2, planesPerTable = 20,
          threshold = 0.9, probeRadius = 0)
        sample.agg(count(lit(1)).as("n_exact"))
          .crossJoin(found.agg(count(lit(1)).as("n_found")))
          .select(col("n_exact"), col("n_found"),
            (col("n_exact") - col("n_found")).as("n_missed"),
            // n_exact = 0 (empty bounded sample at a tiny SF) must yield
            // NULL on BOTH engines: Spark's div would return NULL but
            // DuckDB's // by zero ERRORS, so the guard keeps the failure
            // modes aligned instead of diverging
            expr("CASE WHEN n_exact > 0 THEN CAST(1000000 * n_found div n_exact AS BIGINT) END")
              .as("recall_millionths"))
      },
      Some(s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 2048),
        vecs AS (SELECT vec_id AS id, v FROM s
          UNION ALL SELECT -vec_id - 1,
            list_transform(v, (x, i) ->
              x * (1.0 + 0.02 * CAST((vec_id + (i - 1)) % 7 - 3 AS DOUBLE)))
          FROM s),
        ${srpBucketCtesSql},
        hit AS (SELECT DISTINCT b.id
          FROM bk b JOIN bk q ON q.id = -b.id - 1 AND q.t = b.t AND q.bucket = b.bucket
          WHERE b.id >= 0),
        tot AS (SELECT (SELECT count(*) FROM s) AS n_exact,
            (SELECT count(*) FROM hit) AS n_found)
        SELECT n_exact, n_found, n_exact - n_found AS n_missed,
          CASE WHEN n_exact > 0
            THEN CAST(1000000 * n_found // n_exact AS BIGINT) END AS recall_millionths
        FROM tot""")),

    QueryDef("emb_srp_recall_mp",
      // Hamming-radius-1 MULTIPROBE recall certification — emb_srp_recall's
      // harness (same planted pairs, same deliberately-weak 2-table
      // banding) measuring BOTH probe radii in one hashed row, so the
      // multiprobe recall lever is itself oracle-certified: probing each
      // bucket's k 1-bit neighbors on one join side (srpCandidatePairs'
      // probeRadius=1 path, the default in embeddingNearDupPairs) must
      // recover strictly more planted pairs than exact-bucket banding at
      // EQUAL table count — the cheaper alternative to adding tables
      // (k extra probe rows per (doc, table) vs a whole extra hash pass +
      // join leg per table). The oracle replays both regimes in SQL:
      // exact bucket equality, and bit_count(xor(...)) <= 1 — a probe
      // generation or band-join bug shifts n_found_r1 and breaks the hash.
      (s, d) => {
        val sample = t(s, d, "embeddings")
          .where(col("vec_id") % 5 === 0 && col("vec_id") < 2048)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val pert = sample.select(col("vec_id").as("_bid"), col("embedding"))
          .select((-col("_bid") - 1).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              x * (lit(1.0) + lit(0.02) * ((col("_bid") + i) % 7 - 3).cast("double")))
              .as("embedding"))
        val all = sample.unionByName(pert)
        val found0 = Similarity.embeddingNearDupPairs(all,
          "vec_id", "embedding", numTables = 2, planesPerTable = 20,
          threshold = 0.9, probeRadius = 0)
        val found1 = Similarity.embeddingNearDupPairs(all,
          "vec_id", "embedding", numTables = 2, planesPerTable = 20,
          threshold = 0.9, probeRadius = 1)
        sample.agg(count(lit(1)).as("n_exact"))
          .crossJoin(found0.agg(count(lit(1)).as("n_found_r0")))
          .crossJoin(found1.agg(count(lit(1)).as("n_found_r1")))
          .select(col("n_exact"), col("n_found_r0"), col("n_found_r1"),
            (col("n_found_r1") - col("n_found_r0")).as("n_probe_gain"),
            expr("CASE WHEN n_exact > 0 THEN CAST(1000000 * n_found_r0 div n_exact AS BIGINT) END")
              .as("recall_r0_millionths"),
            expr("CASE WHEN n_exact > 0 THEN CAST(1000000 * n_found_r1 div n_exact AS BIGINT) END")
              .as("recall_r1_millionths"))
      },
      Some(s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 2048),
        vecs AS (SELECT vec_id AS id, v FROM s
          UNION ALL SELECT -vec_id - 1,
            list_transform(v, (x, i) ->
              x * (1.0 + 0.02 * CAST((vec_id + (i - 1)) % 7 - 3 AS DOUBLE)))
          FROM s),
        ${srpBucketCtesSql},
        hit0 AS (SELECT DISTINCT b.id
          FROM bk b JOIN bk q ON q.id = -b.id - 1 AND q.t = b.t AND q.bucket = b.bucket
          WHERE b.id >= 0),
        hit1 AS (SELECT DISTINCT b.id
          FROM bk b JOIN bk q ON q.id = -b.id - 1 AND q.t = b.t
            AND bit_count(xor(b.bucket, q.bucket)) <= 1
          WHERE b.id >= 0),
        tot AS (SELECT (SELECT count(*) FROM s) AS n_exact,
            (SELECT count(*) FROM hit0) AS n_found_r0,
            (SELECT count(*) FROM hit1) AS n_found_r1)
        SELECT n_exact, n_found_r0, n_found_r1,
          n_found_r1 - n_found_r0 AS n_probe_gain,
          CASE WHEN n_exact > 0
            THEN CAST(1000000 * n_found_r0 // n_exact AS BIGINT) END AS recall_r0_millionths,
          CASE WHEN n_exact > 0
            THEN CAST(1000000 * n_found_r1 // n_exact AS BIGINT) END AS recall_r1_millionths
        FROM tot""")),

    QueryDef("emb_srp_capped",
      // Bucket-width-cap certification — the last candidate-generation
      // surface without an oracle (VERDICT r13 item 3): srpCandidatePairsCapped
      // drops buckets wider than the cap from pair generation (the 100-TB
      // guard against sub-threshold semantic clustering going quadratic,
      // see the r12 sweep's emb_near_dup incident), and srpOversizedBuckets
      // is its monitoring side-output. This key PLANTS the dense regime:
      // a 41-member near-identical cluster (clones of vec_id 0, exact
      // 1 + 0.001·((j+i)%5 − 2) per-dim scaling) that co-buckets past the
      // cap of 8 and must be dropped on every table it overflows, and a
      // 6-member cluster (vec_id 5) under the cap that must survive. The
      // hashed row carries the capped AND uncapped candidate counts plus
      // the dropped-bucket audit (count + summed width); the oracle
      // replays the md5 planes, the 1-bit multiprobe band join, and the
      // width cutoff itself in SQL — a cap-placement bug (filtering after
      // probe explosion, wrong side, off-by-one on the width) shifts a
      // count and breaks the hash.
      (s, d) => {
        val sample = t(s, d, "embeddings")
          .where(col("vec_id") % 5 === 0 && col("vec_id") < 2048)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        // base id renamed BEFORE the transform lambda for the same lateral
        // column alias reason as emb_srp_recall
        def clones(baseId: Int, n: Int, idBase: Int): DataFrame =
          sample.where(col("vec_id") === baseId)
            .select(col("embedding").as("_bv"))
            .select(explode(sequence(lit(0), lit(n - 1))).as("_j"), col("_bv"))
            .select((-col("_j") - idBase).cast("long").as("vec_id"),
              transform(col("_bv"), (x, i) =>
                x * (lit(1.0) + lit(0.001) * ((col("_j") + i) % 5 - 2).cast("double")))
                .as("embedding"))
        val all = sample
          .unionByName(clones(0, 40, 1000))
          .unionByName(clones(5, 5, 2000))
        val capped = Similarity.srpCandidatePairsCapped(all, "vec_id", "embedding",
          numTables = 2, planesPerTable = 20, probeRadius = 1, dims = 64,
          maxBucketWidth = 8)
        val uncapped = Similarity.srpCandidatePairs(all, "vec_id", "embedding",
          numTables = 2, planesPerTable = 20, probeRadius = 1)
        val dropped = Similarity.srpOversizedBuckets(all, "vec_id", "embedding",
          numTables = 2, planesPerTable = 20, dims = 64, maxBucketWidth = 8)
        capped.agg(count(lit(1)).as("n_cand_capped"))
          .crossJoin(uncapped.agg(count(lit(1)).as("n_cand_uncapped")))
          .crossJoin(dropped.agg(
            count(lit(1)).as("n_dropped_buckets"),
            coalesce(sum(col("width")), lit(0L)).as("dropped_width_sum")))
          .select(col("n_cand_capped"), col("n_cand_uncapped"),
            (col("n_cand_uncapped") - col("n_cand_capped")).as("n_cand_dropped"),
            col("n_dropped_buckets"), col("dropped_width_sum"))
      },
      Some(s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 2048),
        vecs AS (SELECT vec_id AS id, v FROM s
          UNION ALL SELECT -j - 1000,
            list_transform(v, (x, i) ->
              x * (1.0 + 0.001 * CAST((j + (i - 1)) % 5 - 2 AS DOUBLE)))
            FROM s, range(40) r(j) WHERE vec_id = 0
          UNION ALL SELECT -j - 2000,
            list_transform(v, (x, i) ->
              x * (1.0 + 0.001 * CAST((j + (i - 1)) % 5 - 2 AS DOUBLE)))
            FROM s, range(5) r(j) WHERE vec_id = 5),
        ${srpBucketCtesSql},
        wid AS (SELECT t, bucket, count(*) AS width FROM bk GROUP BY t, bucket),
        keep AS (SELECT b.id, b.t, b.bucket FROM bk b
          JOIN wid w ON w.t = b.t AND w.bucket = b.bucket AND w.width <= 8),
        cap_pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM keep a JOIN keep b ON a.t = b.t
            AND bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.id < b.id),
        unc_pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bk a JOIN bk b ON a.t = b.t
            AND bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.id < b.id),
        tot AS (SELECT
            (SELECT count(*) FROM cap_pairs) AS n_cand_capped,
            (SELECT count(*) FROM unc_pairs) AS n_cand_uncapped,
            (SELECT count(*) FROM wid WHERE width > 8) AS n_dropped_buckets,
            (SELECT CAST(COALESCE(sum(width), 0) AS BIGINT) FROM wid WHERE width > 8)
              AS dropped_width_sum)
        SELECT n_cand_capped, n_cand_uncapped,
          n_cand_uncapped - n_cand_capped AS n_cand_dropped,
          n_dropped_buckets, dropped_width_sum
        FROM tot""")),
  )
}
