package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.functions.Geo

/** One driver-checkable query: a Spark plan + (optionally) the ANSI SQL the
  * DuckDB oracle runs over the same parquet tables. Both sides must produce
  * identical column names, identical types, identical values, and a
  * deterministic row order (every query ends in an explicit ORDER BY on both
  * sides).
  *
  * Numeric discipline (why every aggregate looks the way it does):
  *  - sums of money-ish doubles go through DECIMAL so the result is exact
  *    and independent of summation order (Spark and DuckDB add partitions in
  *    different orders; double addition is not associative, decimal is);
  *    the final value is cast back to DOUBLE, which is a deterministic
  *    conversion of an exact value.
  *  - counts are cast to BIGINT on the DuckDB side (DuckDB sums/counts of
  *    INTEGER widen to HUGEINT).
  *  - event timestamps are nanosecond INT64 (read as long via
  *    `nanosAsLong`); all event queries work in integer microseconds
  *    (`ts div 1000` == DuckDB `epoch_us(ts)`), never float seconds.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {

  private[graft] def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  /** ORDER BY for results whose cardinality is BOUNDED BY CONSTRUCTION —
    * fixed group domains (returnflag, priority, nation, grid cells, years)
    * or operator contracts that already bound the output (top-k over a
    * bounded query set). A range-exchange `orderBy` costs a separate
    * sampling JOB that re-executes the child plan (the per-query 2-job
    * floor on the driver); for a result that stays metadata-sized at ANY
    * scale factor, a single-partition sort is the plan you'd want at
    * 100 TB too — the distributed work all happens below the coalesce.
    * NOT for SF-growing outputs (per-doc scores, pair lists, ANN results
    * over a %-sampled query set), NOT for SF-growing per-row payloads
    * (collect_list CSVs — group count bounded but sum-of-groups memory in
    * one task is not), and NOT above aggregates with unbounded per-group
    * buffers (built-in `percentile`) where the single final-merge task
    * would hold every group's buffer at once: all of those keep the
    * parallel range sort.
    */
  private[graft] implicit class BoundedResultOps(df: DataFrame) {
    def orderBySmall(cols: Column*): DataFrame =
      df.coalesce(1).sortWithinPartitions(cols: _*)
  }

  // ------------------------------------------------------------------
  // Derived deterministic geo points (the testdata has no coordinates; the
  // reference's flagship is a spatial radius join, so we derive stable
  // lat/lon from integer keys — identical integer arithmetic in both
  // engines, exact decimal-by-integer division).
  // lat ∈ [-60, 60), lon ∈ [-150, 150), 0.1° grid.
  // ------------------------------------------------------------------
  private[graft] def custPoints(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_custkey"),
      ((col("c_custkey") * 7 % 1200) / lit(10.0) - 60.0).as("lat"),
      ((col("c_custkey") * 13 % 3000) / lit(10.0) - 150.0).as("lon"))

  private[graft] def suppPoints(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier").select(col("s_suppkey"),
      ((col("s_suppkey") * 91 % 1200) / lit(10.0) - 60.0).as("lat"),
      ((col("s_suppkey") * 53 % 3000) / lit(10.0) - 150.0).as("lon"))

  private[graft] val custPointsSql =
    "SELECT c_custkey, (c_custkey * 7 % 1200) / 10.0 - 60.0 AS lat, (c_custkey * 13 % 3000) / 10.0 - 150.0 AS lon FROM customer"
  private[graft] val suppPointsSql =
    "SELECT s_suppkey, (s_suppkey * 91 % 1200) / 10.0 - 60.0 AS lat, (s_suppkey * 53 % 3000) / 10.0 - 150.0 AS lon FROM supplier"

  // URL-bearing document text, constructed deterministically (the corpus
  // has no URLs — same construct-and-parse trick as op05): every doc cites
  // a subdomain of its source's .org and a mixed-case .net mirror. The SQL
  // fragment defines CTEs d2 (text2) / h (lowercased hosts) / rd (eTLD+1),
  // mirroring Web.urlHosts + Web.registeredDomain exactly.
  private[graft] def urlDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("text2",
      concat(col("text"),
        lit(" see https://sub"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit("."), col("source"), lit(".org/d/"), col("doc_id").cast("string"),
        lit(" and http://Mirror."), col("source"), lit(".net/x")))

  /** The shared MERGE fixture behind op_upsert / op_merge_acid /
    * op_merge_acid_os / op_exactly_once: base = the (key, price)
    * projection of orders; re-priced updates at key%10==0; inserted keys
    * at %1000==1 shifted +10M (disjoint from every real key). ONE Spark
    * builder + ONE SQL CTE (the custPoints/urlDocs pattern) — the fixture
    * was previously copy-pasted four times on each side, so a modulus or
    * offset change needed eight synchronized edits.
    */
  private[graft] def mergeFixtureBase(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
  private[graft] def mergeFixtureRepriced(base: DataFrame): DataFrame =
    base.where(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
  private[graft] def mergeFixtureInserts(base: DataFrame): DataFrame =
    base.where(col("o_orderkey") % 1000 === 1)
      .select((col("o_orderkey") + 10000000).as("o_orderkey"),
        lit(1.0).as("o_totalprice"))
  private[graft] def mergeFixtureUpdates(base: DataFrame): DataFrame =
    mergeFixtureRepriced(base).unionByName(mergeFixtureInserts(base))
  private[graft] val mergeFixtureBaseSql: String =
    "base AS (SELECT o_orderkey, o_totalprice FROM orders)"
  private[graft] val mergeFixtureSql: String =
    s"""$mergeFixtureBaseSql,
        upd AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM base WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey + 10000000, 1.0 FROM base WHERE o_orderkey % 1000 = 1)"""

  /** The NEGATIVE-key CDC variant of the merge fixture, shared by
    * op_time_travel / op_view_maintenance: same %10 re-pricing, but
    * brand-new keys are -k-1 (the planted-pair convention) — an additive
    * offset would collide with real orderkeys once the SF grows past it
    * (TPC-H keys are 1..6M·SF), silently breaking the analytic
    * cdc_delete counts. ONE Spark builder + ONE SQL CTE block
    * (base/upd/v1), the mergeFixture discipline: it was copy-pasted
    * twice on each side, so a modulus or key-convention change needed
    * four synchronized edits.
    */
  private[graft] def cdcFixtureUpdates(base: DataFrame): DataFrame =
    mergeFixtureRepriced(base) // ONE copy of the %10 re-pricing arm
      .unionByName(base.where(col("o_orderkey") % 1000 === 1)
        .select((-col("o_orderkey") - 1).as("o_orderkey"),
          lit(1.0).as("o_totalprice")))
  private[graft] val cdcFixtureSql: String =
    s"""$mergeFixtureBaseSql,
        upd AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM base WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT -o_orderkey - 1, 1.0 FROM base WHERE o_orderkey % 1000 = 1),
        v1 AS (SELECT b.o_orderkey, b.o_totalprice FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
          UNION ALL SELECT o_orderkey, o_totalprice FROM upd)"""

  /** DuckDB mirror of the SRP kernel's md5-plane derivation + bucket fold
    * (planes → term → dots → bk over a caller-provided `vecs(id, v)` CTE)
    * — ONE source of the md5-slice sign arithmetic (it was inlined
    * verbatim in the three emb_srp_* oracles; a plane tweak needed three
    * synchronized edits, the minhashCtePrefix lesson).
    */
  private[graft] val srpBucketCtesSql: String =
    """planes AS (SELECT t.t, p.p, d.d,
            CASE WHEN substr(md5(CAST(t.t * 1000 + p.p AS VARCHAR) || '_'
                || CAST(d.d AS VARCHAR)), 1, 1)
              IN ('1','3','5','7','9','b','d','f') THEN 1.0 ELSE -1.0 END AS sgn
          FROM range(2) t(t), range(20) p(p), range(64) d(d)),
        term AS (SELECT vv.id, pl.t, pl.p, pl.d, vv.v[pl.d + 1] * pl.sgn AS x
          FROM vecs vv CROSS JOIN planes pl),
        dots AS (SELECT id, t, p, list_reduce(list(x ORDER BY d), (a, b) -> a + b) AS dot
          FROM term GROUP BY id, t, p),
        bk AS (SELECT id, t,
            CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY id, t)"""

  /** DuckDB mirror of the fitted-IVF labeling pair (`lab` = nearest-of-k3
    * centroid per vector by the shared cosine tie-break, `cent` = the
    * centroid table) over kmeansCtesSql's `base`/`c3` — ONE copy (it was
    * inlined verbatim in five ann_* oracles across two registry chunks).
    */
  private[graft] def labCteSql: String =
    s"""lab AS (SELECT vec_id, v, j AS lbl FROM (
            SELECT b.vec_id, b.v, c.j,
              row_number() OVER (PARTITION BY b.vec_id ORDER BY ${cosSql("b.v", "c.c")} DESC, c.j ASC) AS rn
            FROM base b CROSS JOIN c3 c) WHERE rn = 1),
        cent AS (SELECT j AS lbl, c FROM c3),"""

  /** DuckDB mirror of [[graft.ops.TextAnalysis.languageGuessed]]'s
    * stopword-hit CASE chain over a token-list column named `toks` — ONE
    * copy of the tie-break order and the stopword lists (it was built
    * independently in the txt_language_guess and pipeline_curation
    * oracles across two registry chunks).
    */
  private[graft] def languageGuessCaseSql: String = {
    def hits(words: Seq[String]) =
      s"len(list_filter(toks, x -> x IN (${words.map("'" + _ + "'").mkString(", ")})))"
    val Seq(en, de, fr, es) =
      Seq("en", "de", "fr", "es").map(l => hits(TextAnalysis.stopwords(l)))
    s"""CASE
            WHEN $en >= $de AND $en >= $fr AND $en >= $es AND $en > 0 THEN 'en'
            WHEN $de >= $fr AND $de >= $es AND $de > 0 THEN 'de'
            WHEN $fr >= $es AND $fr > 0 THEN 'fr'
            WHEN $es > 0 THEN 'es'
            ELSE 'unknown' END"""
  }

  private[graft] val urlDocsSql: String =
    """d2 AS (SELECT doc_id, source,
        text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR) || '.' || source || '.org/d/'
          || CAST(doc_id AS VARCHAR) || ' and http://Mirror.' || source || '.net/x' AS text2
      FROM documents),
    h AS (SELECT doc_id, regexp_replace(lower(unnest(regexp_extract_all(text2, '(?i)https?://(?:[A-Za-z0-9._%+:-]*@)?([A-Za-z0-9._-]+)', 1))), '[.-]+$', '') AS host
      FROM d2),
    rd AS (SELECT doc_id, CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) = '' THEN host
        ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain FROM h)"""

  /** DuckDB mirror of [[graft.ops.Analytics.dyadicEwma]]'s BIGINT lag
    * chain, generated from the same term count so the weights can never
    * drift from the Spark side.
    */
  private[graft] def ewmaOracleSql: String = {
    val terms = graft.ops.Analytics.EwmaTerms
    val num = (0 until terms).map { k =>
      s"COALESCE(lag(v_milli, $k) OVER w, 0) * ${1L << (terms - 1 - k)}"
    }.mkString(" + ")
    s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CAST(floor(value * 1000) AS BIGINT) AS v_milli FROM events)
      SELECT user_id, event_id, ts_us, v_milli,
        CAST($num AS BIGINT) AS ewma_num,
        CAST($num AS DOUBLE) / ${(1L << terms) * 1000}.0 AS ewma
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      ORDER BY user_id, ts_us, event_id"""
  }

  /** Deterministically constructed HTML page per document (the corpus has
    * no markup — the op05 construct-and-parse pattern): a head with title
    * and style, a body-level script, an entity-bearing paragraph wrapping
    * the document text, one anchor, and a comment. [[Web.stripHtml]] must
    * recover exactly `"A & B: <text> more <doc_id>"` — head/script/style/
    * comment content must vanish, the anchor text must survive, and
    * `&amp;` must single-decode.
    */
  private[graft] def htmlDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("html",
      concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p{color:red}</style></head><body>" +
          "<script>var x=1&amp;2;</script><p>A &amp; B: "),
        col("text"),
        lit("</p><a href=\"https://sub"), pmod(col("doc_id"), lit(7L)).cast("string"),
        lit("."), col("source"), lit(".org/d/"), col("doc_id").cast("string"),
        lit("\">more "), col("doc_id").cast("string"),
        lit("</a><!-- tracker --></body></html>")))

  private[graft] val htmlDocsSql: String =
    """hd AS (SELECT doc_id, source, text,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        '</title><style>p{color:red}</style></head><body><script>var x=1&amp;2;</script><p>A &amp; B: ' ||
        text || '</p><a href="https://sub' || CAST(doc_id % 7 AS VARCHAR) || '.' || source ||
        '.org/d/' || CAST(doc_id AS VARCHAR) || '">more ' || CAST(doc_id AS VARCHAR) ||
        '</a><!-- tracker --></body></html>' AS html
      FROM documents)"""

  /** DuckDB mirror of [[graft.ops.Web.stripHtml]]: the identical pattern
    * chain over an input CTE `$src`(…, $htmlCol) → CTE `ext` with every
    * `$src` column plus `extracted`. Kept adjacent to the canonical-URL
    * mirror for the same no-drift reason.
    */
  private[graft] def stripHtmlCteSql(src: String, htmlCol: String): String =
    s"""sh1 AS (SELECT *, regexp_replace($htmlCol, '(?is)<head\\b[^>]*>.*?</head>', ' ', 'g') AS sh_a FROM $src),
      sh2 AS (SELECT *, regexp_replace(regexp_replace(sh_a, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS sh_b FROM sh1),
      sh3 AS (SELECT *, regexp_replace(regexp_replace(sh_b, '(?s)<!--.*?-->', ' ', 'g'),
        '(?s)<[^>]*>', ' ', 'g') AS sh_c FROM sh2),
      ext AS (SELECT *, trim(regexp_replace(
          replace(replace(replace(replace(replace(sh_c,
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
          '\\s+', ' ', 'g')) AS extracted
        FROM sh3)"""

  /** DuckDB mirror of [[graft.ops.Web.canonicalizeUrl]] as chained CTEs
    * over `src`(doc_id, url) → CTE `canon`(doc_id, canonical_url). One
    * definition feeds every canonical-URL oracle (web_url_dedup, the web
    * curation funnel) so the regexp chain can never drift between them.
    */
  private[graft] def canonicalCteSql(src: String): String =
    s"""cp AS (SELECT doc_id,
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
            '^[a-z0-9._%+:-]*@', '') AS hostport,
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
        FROM $src),
      cq AS (SELECT doc_id, scheme,
          CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
               WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
               ELSE hostport END AS host,
          regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '') AS p1,
          regexp_replace(regexp_replace('&' || regexp_extract(rest, '\\?(.*)$$', 1),
            '&utm_[A-Za-z_]*=[^&]*', '', 'g'), '^&+', '') AS qs
        FROM cp),
      canon AS (SELECT doc_id, scheme || '://' || host ||
          CASE WHEN p1 = '' THEN '/' ELSE p1 END ||
          CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
        FROM cq)"""

  // ---- planted-pair corpus for the *_fast dedup keys --------------------
  // dedup_minhash_fast / dedup_simhash_fast are oracled the emb_near_dup
  // way: make the EXPECTED output analytic instead of mirroring the hash. Every token is suffixed with its doc's id, so
  // distinct docs share ZERO tokens (and zero shingles — cross-doc Jaccard
  // is exactly 0 and simhashes are independent), then a verbatim copy of
  // every doc is planted at id −doc_id−1 (collision-free with the
  // nonnegative real ids at any SF). Identical text ⇒ identical signatures
  // ⇒ same bucket in every band ⇒ guaranteed LSH candidates, and the exact
  // verify scores them jac=1.0 / hamming=0 — so the expected result is
  // precisely one (−id−1, id) pair per qualifying doc, asserting 100%
  // recall on planted pairs AND zero false positives in one hash compare.
  private[graft] def plantedTokenDocs(s: SparkSession, d: String): DataFrame = {
    val uniq = t(s, d, "documents").select(col("doc_id"),
      array_join(transform(ops.TextAnalysis.tokens(col("text")),
        tk => concat(tk, lit("_"), col("doc_id"))), " ").as("text"))
    uniq.unionByName(
      uniq.select((-col("doc_id") - 1).as("doc_id"), col("text")))
  }

  // ---- integer-lattice embedding construct (shared by the IVF oracles) --
  // An 8-dim derivation of vec_id with values in [-5,7]: small integers are
  // exact in float32 AND double, so per-dim centroid sums are exact in any
  // partition order, means are one correctly-rounded division, and every
  // cosine is exactly-rounded (*,/,sqrt) arithmetic both engines hash-agree
  // on. Dim 0 is id%7+1 >= 1, so no zero-norm vector at any SF; multipliers
  // are coprime to the 11 modulus.
  private[graft] val LatDims = 8
  private[graft] val LatMults = Seq(3, 5, 7, 9, 13, 15, 17)
  private[graft] def latticeVec: Column =
    array((pmod(col("vec_id"), lit(7L)) + 1).cast("double") +:
        LatMults.map(m => (pmod(col("vec_id") * lit(m.toLong), lit(11L)) - 5).cast("double")): _*)
      .cast("array<float>")
  private[graft] val latticeSqlList: String =
    ("CAST(vec_id % 7 + 1 AS DOUBLE)" +:
      LatMults.map(m => s"CAST((vec_id * $m) % 11 - 5 AS DOUBLE)")).mkString("[", ",\n       ", "]")
  private[graft] val latticeBaseCte: String =
    s"base AS (SELECT vec_id, label, $latticeSqlList AS v FROM embeddings)"
  /** The bounded ANN query-set contract, enforced: queries are the
    * `vec_id % 10` decimation CAPPED at `vec_id < 2048`. At the driver SFs
    * the cap is vacuous (max vec_id 1999 at sf0.1), so every gate hash is
    * unchanged; at corpus scale it pins the query-side CARDINALITY to a
    * constant so the exact / ADC / IVF-probe scans stay LINEAR in the
    * corpus — an uncapped `% 10` query side made them O(corpus²/10), which
    * the sf0.3→sf1 linearity sweep caught as ann_pq_topk growing 4.6× on
    * 3.3× data (SCALE.md). A production serving path takes its (bounded)
    * query batch from the caller; `% 10 < cap` is this suite's stand-in.
    */
  private[graft] def annQueryPred: Column =
    col("vec_id") % 10 === 0 && col("vec_id") < 2048L
  // product-grid PQ codebooks for ann_pq_topk: 4 × 2-dim subspaces, codes =
  // the even lattice {-4,-2,0,2,4,6}² in lexicographic (a-major) order so
  // "lowest code index" == "lexicographically smallest entry" — see the
  // query's comment for why that makes the real argmin SQL-analytic
  private[graft] val pqGrid = Seq(-4.0, -2.0, 0.0, 2.0, 4.0, 6.0)
  private[graft] val pqGridBook: Array[Array[Double]] =
    (for (a <- pqGrid; b <- pqGrid) yield Array(a, b)).toArray
  private[graft] val pqGridBooks: Array[Array[Array[Double]]] = Array.fill(4)(pqGridBook)
  /** The DuckDB spelling of [[Similarity.cosine]]'s exact arithmetic. */
  private[graft] def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, $LatDims), i -> $a[i] * $b[i])) / " +
      s"(sqrt(list_sum(list_transform(generate_series(1, $LatDims), i -> $a[i] * $a[i]))) * " +
      s"sqrt(list_sum(list_transform(generate_series(1, $LatDims), i -> $b[i] * $b[i]))))"
  /** Per-`grp` exact mean vectors of `src`(vec list col `v`) as CTE `out`. */
  private[graft] def meanCteSql(src: String, grp: String, out: String): String =
    s"""$out AS (SELECT $grp, list(cv ORDER BY dim) AS c FROM (
          SELECT $grp, dim, sum(val) / count(*) AS cv FROM (
            SELECT $grp, unnest(generate_series(1, $LatDims)) AS dim, unnest(v) AS val FROM $src)
          GROUP BY 1, 2) GROUP BY 1)"""
  /** The route → probe → score → rank tail shared by both IVF oracles:
    * queries (vec_id % 10 = 0) from `src` against centroid CTE `cent`
    * keyed by `lbl`, nprobe probes, top-5 by (sim desc, id).
    */
  private[graft] def ivfTailSql(src: String, lbl: String, nprobe: Int): String =
    s"""routed AS (SELECT s.vec_id AS qid, s.v AS qv, cent.$lbl,
            ${cosSql("s.v", "cent.c")} AS c_sim
          FROM $src s CROSS JOIN cent WHERE s.vec_id % 10 = 0 AND s.vec_id < 2048),
        probes AS (SELECT qid, qv, $lbl FROM (
            SELECT qid, qv, $lbl,
              row_number() OVER (PARTITION BY qid ORDER BY c_sim DESC, $lbl ASC) AS pr
            FROM routed) WHERE pr <= $nprobe),
        scored AS (SELECT p.qid, s.vec_id AS nid, ${cosSql("p.qv", "s.v")} AS sim
          FROM probes p JOIN $src s ON p.$lbl = s.$lbl WHERE s.vec_id <> p.qid)
        SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, nid AS neighbor_id FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          FROM scored) WHERE rank <= 5 ORDER BY query_id, rank"""
  /** `iters` unrolled Lloyd's rounds over `base` (seeds: k smallest
    * `(md5(id), id)` — the engine-portable seedKey the query passes), each
    * round = assign (argmax cosine, ties lowest centroid) + exact lattice
    * means with empty-cluster carryover. Produces CTEs c0..c`iters`.
    */
  private[graft] def kmeansCtesSql(k: Int, iters: Int, src: String = "base"): String = {
    val c0 = s"""c0 AS (SELECT j, v AS c FROM (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j, v
        FROM $src) WHERE j < $k)"""
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, v, j FROM (
            SELECT b.vec_id, b.v, c.j,
              row_number() OVER (PARTITION BY b.vec_id ORDER BY ${cosSql("b.v", "c.c")} DESC, c.j ASC) AS rn
            FROM $src b CROSS JOIN c${i - 1} c) WHERE rn = 1),
        ${meanCteSql(s"a$i", "j", s"m$i")},
        c$i AS (SELECT p.j, COALESCE(m.c, p.c) AS c FROM c${i - 1} p LEFT JOIN m$i m ON p.j = m.j)"""
    }
    (c0 +: rounds).mkString(",\n        ")
  }

  /** SQL mirror of [[graft.ops.Analytics.det3]] — the same 3×3 Cramer
    * expression tree as text, so the ml_ols_multi oracle can never drift
    * from the Spark evaluation order.
    */
  private[graft] def det3Sql(a: Seq[Seq[String]]): String =
    s"(${a(0)(0)} * (${a(1)(1)} * ${a(2)(2)} - ${a(1)(2)} * ${a(2)(1)}) - " +
      s"${a(0)(1)} * (${a(1)(0)} * ${a(2)(2)} - ${a(1)(2)} * ${a(2)(0)}) + " +
      s"${a(0)(2)} * (${a(1)(0)} * ${a(2)(1)} - ${a(1)(1)} * ${a(2)(0)}))"

  /** Deterministic per-(kind, sfDir, PID) scratch directory for the
    * write→read-back roundtrip queries. The path is FIXED for a given
    * input dir WITHIN a JVM and overwritten in place on every
    * invocation, so repeated bench iterations reuse one directory (and,
    * for JDBC, one embedded Derby database booted once per JVM). The
    * PID suffix keeps two concurrent driver/bench processes on the same
    * host from clobbering each other's scratch mid-query (the
    * op_merge_acid lesson). The dir is deleted when this JVM shuts down;
    * sibling PIDs' dirs whose pid is dead (a JVM killed before its hooks
    * ran) are swept so finished JVMs don't leak scratch forever.
    *
    * The sweep is MEMOIZED per (kind, hash) with a 1-hour TTL: leaked
    * dirs only appear when a sibling JVM exits, so re-listing /tmp on
    * every bench iteration of the same query is pure directory-scan
    * overhead (and on a loaded host, measurable jitter in the hot loop).
    * The TTL (rather than once-per-JVM) bounds /tmp growth in a
    * long-lived SERVICE posture: a sibling that dies after this JVM's
    * first sweep of the prefix is reclaimed within the hour instead of
    * never.
    */
  private[graft] val scratchSwept =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] val ScratchSweepTtlMs = 3600L * 1000
  private[graft] def scratchDir(kind: String, d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    val tmp = sys.props("java.io.tmpdir")
    val prefix = s"graft_rt_${kind}_${h}_"
    val name = prefix + ProcessHandle.current().pid()
    sweepStaleSiblings(tmp, prefix, name)
    val p = java.nio.file.Paths.get(tmp, name)
    java.nio.file.Files.createDirectories(p)
    org.apache.spark.sql.GraftBridge.deleteAtShutdown(p.toString)
    p.toString
  }

  /** Fresh-per-invocation scratch ROOT for the ACID/object-store-log
    * queries (op_merge_acid*, op_exactly_once, op_time_travel, …): same
    * per-(kind, sfDir, PID) naming and shutdown deletion as
    * [[scratchDir]], but the root is DELETED (not created) on every call —
    * ManifestTable lays out its own log — so repeated invocations replay
    * the full commit history from an empty log. The stale-sibling sweep
    * is the shared memoized one: the previous inline per-invocation `/tmp`
    * listing was harness housekeeping billed to the query's wall time on
    * every bench iteration (VERDICT r14).
    */
  private[graft] def freshScratchRoot(spark: SparkSession, kind: String, d: String): String = {
    val tmp = sys.props("java.io.tmpdir")
    val prefix = s"graft_${kind}_" + d.replaceAll("[^A-Za-z0-9]", "_") + "_"
    val name = prefix + ProcessHandle.current().pid()
    sweepStaleSiblings(tmp, prefix, name)
    val rp = new org.apache.hadoop.fs.Path(tmp + "/" + name)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    org.apache.spark.sql.GraftBridge.deleteAtShutdown(tmp + "/" + name)
    tmp + "/" + name
  }

  /** The memoized dead-sibling sweep shared by [[scratchDir]] and
    * [[freshScratchRoot]].
    *
    * Reclaims dirs whose owning pid is dead: an mtime-age sweep can
    * delete a LIVE sibling's scratch (Derby writes touch files nested
    * under db/, so the TOP dir's mtime never refreshes — a >1h-old run
    * looks stale while in active use; that also means the top dir's
    * mtime IS its creation time). Pid liveness alone SURVIVES PID REUSE
    * — an unrelated process recycling a dead JVM's pid would pin its
    * dir forever. The precise disambiguator is the holder's START TIME:
    * a pid is held by one process at a time, so any live holder that
    * started AFTER the dir appeared cannot be the JVM that created it
    * (the creator died first and its pid was recycled) → sweep. A real
    * live sibling started BEFORE it created its dir → keep, at ANY age
    * (an age floor here would sweep a >floor-old live sibling — the
    * exact deletion the pid rule exists to prevent). The 1-minute slack
    * absorbs clock/fs skew on the creator's start≈mtime boundary; when
    * the start time is unavailable, and for dirs whose suffix doesn't
    * parse as a pid (the legacy unsuffixed layout), a 7-day floor is
    * the conservative fallback. The recursive delete tolerates a
    * concurrent sibling sweeping the same dead dir (walk/delete races
    * surface as ignorable IO errors).
    */
  private def sweepStaleSiblings(tmp: String, prefix: String, name: String): Unit = {
    val nowMs = System.currentTimeMillis()
    val sweepDue = {
      val prev = scratchSwept.get(prefix)
      (prev == null || nowMs - prev > ScratchSweepTtlMs) &&
        // one winner per expiry window even under concurrent callers
        (if (prev == null) scratchSwept.putIfAbsent(prefix, nowMs) == null
         else scratchSwept.replace(prefix, prev, java.lang.Long.valueOf(nowMs)))
    }
    if (sweepDue) {
      val floorMs = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
      val stale = new java.io.File(tmp).listFiles()
      if (stale != null) stale.iterator
        .filter(f => f.getName.startsWith(prefix) && f.getName != name)
        .filter { f =>
          f.getName.stripPrefix(prefix).toLongOption match {
            case Some(pid) =>
              val holder = ProcessHandle.of(pid)
              if (!holder.isPresent) true // owner dead
              else {
                val started = holder.get.info().startInstant()
                if (started.isPresent)
                  started.get.toEpochMilli > f.lastModified() + 60000L // pid reused
                else f.lastModified() < floorMs
              }
            case None => f.lastModified() < floorMs
          }
        }
        .foreach { f =>
          try
            java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
          catch { case scala.util.control.NonFatal(_) => () }
        }
    }
  }

  /** op_schema_drift oracle: per-column profile blocks are mechanical —
    * generate them (null/distinct census per column per side, then the
    * same full-outer shape the Spark side builds).
    */
  private[graft] def profileDriftOracleSql(v1Cols: Seq[String], v2Cols: Seq[String]): String = {
    def side(name: String, cols: Seq[String]): String = cols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM $name"""
    }.mkString("\nUNION ALL ")
    s"""WITH v1 AS (SELECT ${v1Cols.mkString(", ")} FROM orders WHERE o_orderkey % 2 = 0),
      v2 AS (SELECT orders.*, CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE 'web' END AS o_channel
        FROM orders WHERE o_orderkey % 3 <> 0),
      p1 AS (${side("v1", v1Cols)}),
      p2 AS (${side("v2", v2Cols)})
      SELECT coalesce(p1.column_name, p2.column_name) AS column_name,
        p1.column_name IS NOT NULL AS in_v1, p2.column_name IS NOT NULL AS in_v2,
        coalesce(p1.n_rows, 0) AS n_rows_v1, coalesce(p1.n_nulls, 0) AS n_nulls_v1,
        coalesce(p1.n_distinct, 0) AS n_distinct_v1,
        coalesce(p2.n_rows, 0) AS n_rows_v2, coalesce(p2.n_nulls, 0) AS n_nulls_v2,
        coalesce(p2.n_distinct, 0) AS n_distinct_v2
      FROM p1 FULL OUTER JOIN p2 ON p1.column_name = p2.column_name
      ORDER BY column_name"""
  }

  /** Unrolled batch-perceptron oracle: pure INTEGER arithmetic end to end
    * (weights, margins, updates), so parity needs no float reasoning at
    * all — each round is one CTE carrying the weight triple forward.
    * Mirrors [[graft.ops.Analytics.perceptronFit]] exactly: update
    * w += Σ y·x over rows with y·margin <= 0, bias as a constant feature.
    */
  private[graft] def perceptronOracleSql(iters: Int): String = {
    val f = """f AS (SELECT doc_id, CAST(doc_id % 7 AS BIGINT) AS f1,
        CAST(doc_id % 11 AS BIGINT) AS f2,
        CASE WHEN 2 * (doc_id % 7) - (doc_id % 11) + 1 > 0 THEN 1 ELSE -1 END AS y
      FROM documents)"""
    val w0 = "w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c)"
    val ws = (1 to iters).map { i =>
      val p = i - 1
      s"""w$i AS (SELECT
          w$p.a + COALESCE(sum(CASE WHEN y * (w$p.a * f1 + w$p.b * f2 + w$p.c) <= 0 THEN y * f1 END), 0) AS a,
          w$p.b + COALESCE(sum(CASE WHEN y * (w$p.a * f1 + w$p.b * f2 + w$p.c) <= 0 THEN y * f2 END), 0) AS b,
          w$p.c + COALESCE(sum(CASE WHEN y * (w$p.a * f1 + w$p.b * f2 + w$p.c) <= 0 THEN y END), 0) AS c
        FROM f CROSS JOIN w$p GROUP BY w$p.a, w$p.b, w$p.c)"""
    }
    s"""WITH $f,
        $w0,
        ${ws.mkString(",\n        ")}
      SELECT y AS label,
        CASE WHEN w$iters.a * f1 + w$iters.b * f2 + w$iters.c > 0 THEN 1 ELSE -1 END AS pred,
        count(*) AS n
      FROM f CROSS JOIN w$iters GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  private[graft] val RadiusKm = 300.0
  private[graft] def havSql(a1: String, o1: String, a2: String, o2: String) =
    Geo.haversineKmSql(a1, o1, a2, o2)

  /** sum(DECIMAL(p,s))::DOUBLE both sides — see numeric discipline above. */
  // exact quantized sum as double — since r19 via the momentSum long
  // fast path (per-row long rounding instead of a BigDecimal cast, one
  // exact decimal rescale per group; bit-identical inside |Σ·10^sc| < 2⁶³,
  // NULL past it since r20's overflow witness — the decimal path's
  // detectable failure mode, never a silent long wrap).
  // Contract: every call site feeds a FLOATING measure (all 31 do) — an
  // integral column past 2⁵³ would round in the double widening; route
  // such inputs through Analytics.momentSum's type dispatch instead.
  // No precision knob: the long path's capacity is |Σ·10^sc| < 2⁶³
  // regardless — the old `p` parameter implied capacity control that no
  // longer existed (r19 ADVICE), so it is gone; only the SQL mirror keeps
  // one (the oracle still runs the genuine decimal cast).
  private[graft] def dsum(c: Column, sc: Int = 6): Column =
    graft.ops.Analytics.momentSumFloating(c, sc)
  private[graft] def dsumSql(e: String, p: Int = 24, s: Int = 6): String =
    s"CAST(sum(CAST($e AS DECIMAL($p,$s))) AS DOUBLE)"

  /** events with ts converted to exact integer microseconds.
    *
    * The driver's events.parquet carries nanosecond timestamps; depending on
    * the Spark build, `spark.sql.legacy.parquet.nanosAsLong` either maps them
    * to LongType nanos (older behavior) or is ignored and they arrive as
    * TIMESTAMP_NTZ truncated to micros (current behavior — the round-8 bench
    * lost all 8 event queries to the unhandled second shape). Branch on the
    * RESOLVED schema so both read paths yield the same integer microseconds:
    * `unix_micros` needs TIMESTAMP_LTZ, and the NTZ→LTZ cast is identity
    * because Prep pins the session timezone to UTC.
    */
  private[graft] def eventsUs(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val tsUs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    ev.withColumn("ts_us", tsUs)
  }

  // ------------------------------------------------------------------

  /** The full registry — per-family chunk files concatenated in their
    * original monolith order (the split is organizational only; key set
    * and order are unchanged). Lazy so the chunk objects initialize only
    * after this object's helper fields are all assigned.
    */
  lazy val all: Seq[QueryDef] = {
    val defs = QueriesCore.defs ++
      QueriesEvents.defs ++
      QueriesText.defs ++
      QueriesText2.defs ++
      QueriesVector.defs ++
      QueriesMlEval.defs ++
      QueriesRelational.defs ++
      QueriesFrontier.defs
    // Key names must be UNIQUE across chunks: SparkEntry builds
    // name-keyed Maps, where a duplicate silently shadows the earlier
    // QueryDef (last chunk wins) — the shadowed code ships dead while
    // the driver gate reports the surviving twin green under the same
    // name, so the mistake is invisible to every downstream check.
    val dup = defs.groupBy(_.name).collect { case (n, ds) if ds.sizeIs > 1 => n }
    require(dup.isEmpty,
      s"duplicate query key name(s) across registry chunks: ${dup.toSeq.sorted.mkString(", ")}")
    defs
  }

  // ------------------------------------------------------------------
  // Programmatically generated oracle SQL for the hash-heavy dedup ops —
  // the SQL mirrors the Spark expressions definitionally (same md5 inputs,
  // same band layout, same ascii-nibble bit extraction).
  // ------------------------------------------------------------------

  /** Unrolled-CTE FIXED-POINT PageRank mirror (the ml_perceptron_quality
    * technique for iterative driver loops). Every operation is integer
    * floor division / multiplication / exact sum on non-negative scaled
    * longs — DuckDB `//` and Spark `div` agree exactly on non-negatives,
    * so the replay is bit-identical with no float anywhere. Sums are cast
    * back to BIGINT (DuckDB widens BIGINT sums to HUGEINT).
    */
  def pageRankOracleSql(iters: Int, mod: Int): String = {
    require(iters >= 1)
    import graft.ops.Dedup.{PageRankDampDen => dampDen, PageRankDampNum => dampNum,
      PageRankScale => scale}
    val body = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS v, CAST(sum(p.pr // od.outdeg) AS BIGINT) AS s
        FROM edges e JOIN pr${k - 1} p ON p.v = e.src JOIN outdeg od ON od.src = e.src
        GROUP BY 1),
      pr$k AS (SELECT nodes.v,
          CAST(($scale - $scale * $dampNum // $dampDen) // nn.n
            + coalesce(c$k.s, 0) * $dampNum // $dampDen AS BIGINT) AS pr
        FROM nodes CROSS JOIN nn LEFT JOIN c$k ON c$k.v = nodes.v)"""
    }.mkString(",\n      ")
    s"""WITH edges AS (SELECT o_custkey % $mod AS src, o_orderkey % $mod AS dst FROM orders),
      nodes AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
      nn AS (SELECT count(*) AS n FROM nodes),
      outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
      pr0 AS (SELECT v, CAST($scale // nn.n AS BIGINT) AS pr FROM nodes CROSS JOIN nn),
      $body
      SELECT v, pr FROM pr$iters ORDER BY v"""
  }

  /** Unrolled-CTE FIXED-POINT HITS mirror ([[pageRankOracleSql]]'s
    * technique for the two-score recurrence): raw sums over edges, then
    * `x · scale // Σx` integer normalization per half-round — bit-exact
    * on non-negative longs in both engines.
    */
  def hitsOracleSql(iters: Int, mod: Int): String = {
    require(iters >= 1)
    import graft.ops.Analytics.{HitsScale => scale}
    val body = (1 to iters).map { k =>
      s"""ar$k AS (SELECT e.dst AS v, CAST(sum(h.h) AS BIGINT) AS x
        FROM edges e JOIN h${k - 1} h ON h.v = e.src GROUP BY 1),
      af$k AS (SELECT nodes.v, coalesce(ar$k.x, 0) AS x
        FROM nodes LEFT JOIN ar$k ON ar$k.v = nodes.v),
      as$k AS (SELECT CAST(sum(x) AS BIGINT) AS s FROM af$k),
      a$k AS (SELECT v, CAST(x * $scale // s AS BIGINT) AS a FROM af$k CROSS JOIN as$k),
      hr$k AS (SELECT e.src AS v, CAST(sum(a.a) AS BIGINT) AS x
        FROM edges e JOIN a$k a ON a.v = e.dst GROUP BY 1),
      hf$k AS (SELECT nodes.v, coalesce(hr$k.x, 0) AS x
        FROM nodes LEFT JOIN hr$k ON hr$k.v = nodes.v),
      hs$k AS (SELECT CAST(sum(x) AS BIGINT) AS s FROM hf$k),
      h$k AS (SELECT v, CAST(x * $scale // s AS BIGINT) AS h FROM hf$k CROSS JOIN hs$k)"""
    }.mkString(",\n      ")
    s"""WITH edges AS (SELECT o_custkey % $mod AS src, o_orderkey % $mod AS dst FROM orders),
      nodes AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
      h0 AS (SELECT v, CAST($scale AS BIGINT) AS h FROM nodes),
      $body
      SELECT h$iters.v AS v, h$iters.h AS hub, a$iters.a AS authority
      FROM h$iters JOIN a$iters ON h$iters.v = a$iters.v ORDER BY h$iters.v"""
  }

  /** Unrolled-CTE deterministic LPA mirror: per round, neighbor-label
    * votes then argmax by (count desc, label asc) via row_number — the
    * same total order as the Spark side's max(struct(cnt, −label)).
    */
  def lpaOracleSql(rounds: Int, mod: Int): String = {
    require(rounds >= 1)
    val body = (1 to rounds).map { k =>
      s"""v$k AS (SELECT e.src AS v, l.label, count(*) AS cnt
        FROM sym e JOIN l${k - 1} l ON l.v = e.dst GROUP BY 1, 2),
      l$k AS (SELECT v, label FROM (
          SELECT v, label, row_number() OVER (PARTITION BY v ORDER BY cnt DESC, label) AS rr
          FROM v$k) WHERE rr = 1)"""
    }.mkString(",\n      ")
    s"""WITH edges AS (SELECT o_custkey % $mod AS src, o_orderkey % $mod AS dst FROM orders),
      sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
      nodes AS (SELECT DISTINCT src AS v FROM sym),
      l0 AS (SELECT v, v AS label FROM nodes),
      $body
      SELECT v, label AS community FROM l$rounds ORDER BY v"""
  }

  /** The shingle→signature→band CTE chain shared by every minhash oracle —
    * ONE source of the md5-slice arithmetic, so the self-pair and
    * incremental variants can never desynchronize from each other.
    */
  private def minhashCtePrefix(from: String): String = {
    import graft.ops.Dedup.{MinhashNumHashes => numHashes, MinhashRowsPerBand => rowsPerBand,
      MinhashShingleN => shingleN}
    val shingleExpr = (0 until shingleN).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    val mhCols = (0 until numHashes)
      .map(s => s"min(substring(md5(shingle), ${s * 4 + 1}, 4)) AS mh$s").mkString(", ")
    val numBands = numHashes / rowsPerBand
    val bandRows = (0 until numBands).map { b =>
      val cc = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($cc) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH tk AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
      FROM $from),
    shl AS (SELECT doc_id, [$shingleExpr FOR i IN generate_series(1, len(toks) - ${shingleN - 1})] AS shingles
      FROM tk WHERE len(toks) >= $shingleN),
    sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shl),
    sig AS (SELECT doc_id, $mhCols FROM sh GROUP BY doc_id),
    buckets AS ($bandRows)"""
  }

  /** The candidate→verify tail shared by the minhash oracles: exact
    * Jaccard over full shingle sets for the `cand` CTE's (aCol, bCol)
    * pairs. The prefix must define `sh` and `cand`.
    */
  private def minhashVerifyTail(aCol: String, bCol: String, threshold: Double): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT c.$aCol, c.$bCol, count(*) AS n_inter
      FROM cand c JOIN sh sa ON sa.doc_id = c.$aCol JOIN sh sb ON sb.doc_id = c.$bCol AND sb.shingle = sa.shingle
      GROUP BY 1, 2)
    SELECT $aCol, $bCol,
      CAST(n_inter AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE) AS jac
    FROM inter JOIN sizes za ON za.doc_id = $aCol JOIN sizes zb ON zb.doc_id = $bCol
    WHERE CAST(n_inter AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE) >= $threshold
    ORDER BY $aCol, $bCol"""

  /** [[minhashOracleSql]] for the INCREMENTAL pairing: same shingle/
    * signature/band arithmetic (shared prefix), but candidates join the
    * history side's buckets against the incoming side's (doc_id parity
    * splits the documents table), never a self-join — mirroring
    * `Dedup.incrementalNearDupPairs` definitionally.
    */
  def minhashIncrementalOracleSql(threshold: Double): String =
    s"""${minhashCtePrefix("documents")},
    cand AS (SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
      FROM buckets n JOIN buckets o ON n.band = o.band AND n.bucket = o.bucket
      WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
    ${minhashVerifyTail("doc_new", "doc_old", threshold)}"""

  def minhashOracleSql(threshold: Double, from: String = "documents"): String =
    s"""${minhashCtePrefix(from)},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id),
    ${minhashVerifyTail("doc_a", "doc_b", threshold)}"""

  /** [[minhashOracleSql]]'s machinery turned into an EVALUATION mirror:
    * over a bounded doc sample, the exact shingle-sharing ground-truth
    * pair set and the banded (LSH) pair set are both verified with the
    * same exact-Jaccard tail, then reduced to the recall summary. Found ⊆
    * exact holds by construction (verified candidates that share a band
    * also share a shingle), so `n_missed` independently cross-checks
    * `n_exact − n_found`.
    */
  def minhashRecallOracleSql(threshold: Double): String =
    s"""${minhashCtePrefix(
        """(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0 AND doc_id < 2048
           UNION ALL SELECT doc_id + 1000000, text || ' closing boilerplate line appended'
           FROM documents WHERE doc_id % 5 = 0 AND doc_id < 2048) samp""")},
    candb AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id),
    cands AS (SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    je AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cands c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2),
    exact AS (SELECT doc_a, doc_b FROM je
      JOIN sizes za ON za.doc_id = doc_a JOIN sizes zb ON zb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE) >= $threshold),
    jf AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM candb c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2),
    found AS (SELECT doc_a, doc_b FROM jf
      JOIN sizes za ON za.doc_id = doc_a JOIN sizes zb ON zb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE) >= $threshold),
    m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
      (SELECT CAST(count(*) AS BIGINT) FROM found) AS n_found,
      (SELECT CAST(count(*) AS BIGINT) FROM exact e WHERE NOT EXISTS
        (SELECT 1 FROM found f WHERE f.doc_a = e.doc_a AND f.doc_b = e.doc_b)) AS n_missed)
    SELECT n_exact, n_found, n_missed,
      CAST(CASE WHEN n_exact > 0 THEN 1000000 * n_found // n_exact END AS BIGINT)
        AS recall_millionths
    FROM m"""

  def simhashOracleSql: String = {
    // mirrors Dedup.simhash60 definitionally: same 15-hex-char (60-bit) md5
    // prefix, parsed once to a BIGINT ('0x…'::BIGINT == Spark's conv(…,16,10)),
    // same bit-sum rule. The oracle verifies by brute O(N²) scan — the Spark
    // side's chunk-bucketed join must produce the identical pair set.
    val bits = graft.ops.Dedup.SimhashBits
    val sums = (0 until bits).map { i =>
      s"CAST(sum(2 * ((h // ${1L << i}) % 2) - 1) AS BIGINT) AS s$i"
    }.mkString(", ")
    val hash = (0 until bits).map(i => s"CASE WHEN s$i >= 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH tok0 AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS tokk
      FROM documents),
    tok AS (SELECT doc_id, ('0x' || substring(md5(tokk), 1, ${bits / 4}))::BIGINT AS h FROM tok0),
    sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
    hashes AS (SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM sums)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= ${graft.ops.Dedup.MaxHamming}
    ORDER BY doc_a, doc_b"""
  }
}
