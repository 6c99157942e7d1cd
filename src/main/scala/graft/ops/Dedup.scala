package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Lineage._

/** Deduplication operators for LLM-data pipelines (north star): exact,
  * normalized-fingerprint, MinHash+LSH n-gram Jaccard, and SimHash.
  *
  * Everything is built from deterministic, engine-portable primitives
  * (`md5` over strings, integer bit arithmetic, `ascii`) so the DuckDB
  * oracle can evaluate the *same* definition — no JVM-specific hashing
  * (murmur3 `hash()` would not be reproducible outside Spark).
  *
  * Scale design: no operator here ever cross-joins the corpus. Candidate
  * pairs come from LSH band buckets (MinHash) or simhash chunk buckets
  * (pigeonhole guarantee), so the only shuffles are groupBy(doc) for
  * signatures and groupBy(bucket) for candidates — both linear in corpus
  * size. This is the standard web-scale near-dedup layout (one pass to
  * sign, one bucketed self-join, one verify join).
  */
object Dedup {

  /** Whitespace tokens with empties removed — single shared definition so
    * dedup fingerprints can never desynchronize from the text-analysis
    * features (mirrors the oracle's `string_split_regex` + filter).
    */
  def tokens(text: Column): Column = TextAnalysis.tokens(text)

  /** ALL n-token grams (duplicates kept, document order) joined by single
    * spaces; empty array when the document has fewer than n tokens. `toks`
    * MUST be a materialized column (an attribute), not a `tokens(text)`
    * expression tree (the lambdas re-evaluate their argument — passing the
    * raw expression re-splits the text per element; measured ~8× slowdown
    * on the corpus). The single gram-builder shared by dedup shingles,
    * repetition signals, and bigram LM stats — one definition, one oracle
    * contract.
    *
    * Formulated as a fold of shifted zips — `zip_with(acc, toks[j+1:],
    * concat)` for j = 1..n−1 — one linear pass per shift: the index-lambda
    * form this replaces (`transform(sequence(1, count), i ->
    * element_at(toks, i+j)...)`) re-walks the array per element and
    * measured 15-20× slower on extraction. The zip pads the shorter
    * shifted side with null and `concat` null-propagates, so exactly the
    * trailing `n−1` slots null out; the filter drops them WITHOUT
    * disturbing the positions of surviving grams (posexplode consumers
    * depend on gram position = window start).
    */
  def gramsFromTokens(toks: Column, n: Int): Column = {
    require(n >= 1)
    // evaluated by the one-pass codegen kernel; the zip_with fold below
    // ([[gramsFromTokensSpec]]) remains the executable DEFINITION and is
    // property-tested equal — the WinnowMd5Kernel convention. NULL toks →
    // empty (the old form's size(null) = -1 branch), so size()-reading
    // consumers never see the legacy -1 on a null doc
    when(toks.isNotNull, graft.functions.NGramsOps.ngrams(toks, n))
      .otherwise(array().cast("array<string>"))
  }

  /** The n-gram DEFINITION as built-in expressions (shifted-zip fold) —
    * kept as the spec the kernel is tested against, and as the form an
    * engine without the kernel would run.
    */
  def gramsFromTokensSpec(toks: Column, n: Int): Column = {
    require(n >= 1)
    val grams = (1 until n).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), greatest(size(toks) - j, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    when(toks.isNotNull, filter(grams, g => g.isNotNull))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct n-token shingles — the unit of Jaccard similarity. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(gramsFromTokens(toks, n))

  /** Exploded (id, shingle) table — the unit of Jaccard similarity. The
    * tokenizer runs exactly once per document (projection before explode).
    */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleTableFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("_toks")), idCol, "_toks", n)

  /** [[shingleTable]] over an already-materialized token-array column — for
    * pipelines that tokenize the corpus once and feed several consumers.
    */
  def shingleTableFromTokens(df: DataFrame, idCol: String, toksCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shinglesFromTokens(col(toksCol), n)).as("shingle"))

  /** One MinHash value: the min over a doc's shingles of the s-th 16-bit
    * slice of md5(shingle), as an INT. One digest per shingle serves all
    * (up to 8) hash functions — md5 bits are independent, so disjoint
    * slices act as independent hashes. Definitionally equal to the oracle's
    * lexicographic `min(substring(md5hex, 4s+1, 4))`: fixed-width lowercase
    * hex orders exactly like the 16-bit value it spells (see
    * [[graft.functions.Md5SlicesKernel]]), so the primitive int min-agg
    * replaces the per-row hex materialization + 8 substring allocations +
    * string-buffer mins the r20 profile measured at ~60% of the signature
    * pass; [[lshBuckets]] reconstructs the identical hex strings once per
    * aggregated signature. 16-bit slices collide for unrelated docs with
    * probability ~n/2·2⁻¹⁶ per hash, which the exact Jaccard verify absorbs.
    */
  def minhashAgg(seed: Int): Column =
    min(col("_mh").getItem(seed)).as(s"mh$seed")

  /** MinHash signatures: one row per doc, columns mh0..mh7 (the
    * [[MinhashNumHashes]] slots), each the INT image of the oracle's
    * 4-hex-char slice (equal order, equal equality — see [[minhashAgg]]). No size column rides along: the Jaccard
    * verify derives doc sizes from its own per-doc sets (`size(_set)` in
    * [[jaccardVerifySets]]), so a signature-side count would be dead weight
    * shuffled with every row.
    *
    * The mh columns are INT, not the 4-char hex strings they once were, so
    * the `sig` column a [[graft.streaming.Streaming.nearDupFilterSink]]
    * store persists is `array<int>` (it was `array<string>`); stores
    * written in the old format must be rebuilt.
    */
  def minhashSignatures(shingleTbl: DataFrame, idCol: String): DataFrame =
    shingleTbl.withColumn("_mh", graft.functions.Md5SlicesOps.md5Slices16(col("shingle")))
      .groupBy(col(idCol)).agg(minhashAgg(0), (1 until MinhashNumHashes).map(minhashAgg): _*)

  /** LSH band buckets: band b hashes [[MinhashRowsPerBand]] consecutive
    * signature entries into one bucket id. Docs sharing any (band, bucket)
    * are candidates. Output: (id, band, bucket). The bucket md5 runs over the
    * 4-hex-char images of the int signature slices — byte-identical input
    * to the oracle's `md5(concat(substring-slices))`, reconstructed ONCE per
    * aggregated signature row (signature-table-sized, not shingle-sized).
    */
  def lshBuckets(sig: DataFrame, idCol: String): DataFrame = {
    val rowsPerBand = MinhashRowsPerBand
    val numBands = MinhashNumHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat((0 until rowsPerBand).map(r =>
          graft.functions.Md5SlicesOps.md5Hex4(col(s"mh${b * rowsPerBand + r}"))): _*)).as("bucket"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** Candidate pairs (a < b) sharing at least one LSH bucket, with a
    * bucket-width cap — the 100-TB form (`Int.MaxValue` disables the cap).
    *
    * The self-join is hinted sort-merge: both sides are the corpus-sized
    * bucket table, so a broadcast is never the right plan — but at bench SF
    * the static size estimator undercounts the derived side and would
    * broadcast it, which both breaks the 100-TB posture and costs a
    * broadcast-build JOB per join.
    *
    * A degenerate band value (empty-string fingerprints, boilerplate pages)
    * puts B docs in one bucket and the self-join emits B² candidate pairs:
    * at web scale a single 10⁷-doc bucket is 10¹⁴ pairs — the last
    * quadratic corner in the family. Buckets wider than `maxBucketSize`
    * are DROPPED from pair generation (members usually share several
    * bands, so narrower buckets still recover most true pairs; recall
    * impact is bounded in `DedupSpec`). Dropped buckets are observable via
    * [[lshOversizedBuckets]] — run it alongside and alert on its count, so
    * the cap is an explicit, monitored recall trade instead of a silent
    * one. The width count rides the SAME hash partitioning as the join
    * (window over the join keys), so the cap costs no extra shuffle of the
    * bucket table.
    */
  def lshCandidatePairsCapped(buckets: DataFrame, idCol: String,
                              maxBucketSize: Int): DataFrame = {
    val kept = capBuckets(buckets, Seq("band", "bucket"), maxBucketSize)
    val a = kept.select(col("band"), col("bucket"), col(idCol).as("doc_a"))
    val b = kept.select(col("band"), col("bucket"), col(idCol).as("doc_b"))
    a.join(b.hint("merge"), Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Cross-source exact-duplication census: for every source pair, how
    * many DISTINCT texts appear in both — the "which crawls duplicate each
    * other" matrix that drives mix dedup priorities (two snapshots of the
    * same crawl → drop one; two independent sources sharing boilerplate →
    * scrub it instead). Texts join by md5 so the corpus-sized self-join
    * shuffles 32-hex keys, never document bodies; per-hash fanout is
    * bounded by the SOURCE cardinality (metadata-sized at any corpus —
    * hundreds of crawls, not billions), so pair volume is
    * |distinct texts|·|sources sharing each|², never corpus². Output is at
    * most |sources|² rows. Both self-join sides are corpus-sized →
    * merge-hinted, never broadcast.
    */
  def crossSourceExactOverlap(docs: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val st = docs.select(md5(col(textCol)).as("_h"), col(srcCol).as("_src")).distinct()
    st.select(col("_h"), col("_src").as("source_a"))
      .join(st.select(col("_h"), col("_src").as("source_b")).hint("merge"), Seq("_h"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
  }

  /** Long-encodable id check shared by the families whose kernels buffer
    * ids as Long (CappedIds postings, TopK's Scored).
    */
  private[ops] def isIntegralIdType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  /** The ONE bucket-width-cap implementation every capped candidate
    * generator shares (minhash bands, simhash/hamming chunks, SRP tables,
    * the incremental cross-side join): rows in a `keys`-bucket wider than
    * `maxWidth` are dropped. The width count rides the SAME hash
    * partitioning the downstream join needs — no extra shuffle. One
    * definition so the families' documented "same cap contract" cannot
    * drift.
    */
  private[ops] def capBuckets(df: DataFrame, keys: Seq[String], maxWidth: Int): DataFrame =
    if (maxWidth == Int.MaxValue) df
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      df.withColumn("_bn", count(lit(1)).over(w))
        .where(col("_bn") <= maxWidth).drop("_bn")
    }

  /** The (band, bucket, width) rows that [[lshCandidatePairsCapped]] drops
    * at the given cap — the monitoring side-output for the recall trade.
    */
  def lshOversizedBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("width"))
      .where(col("width") > maxBucketSize)

  /** Exact Jaccard over shingle sets for the candidate pairs; keeps pairs with
    * jaccard >= threshold. Output: (doc_a, doc_b, jac).
    *
    * Shape: each pair joins the two docs' WHOLE shingle sets (one
    * document-bounded array per row) and intersects them in-row with
    * `array_intersect` — so the joined row count stays |pairs|. The
    * previous exploded form (pair ⋈ a-shingles ⋈ b-shingles, count
    * matches) multiplied |pairs| by the per-doc shingle count BEFORE its
    * second string-keyed sort-merge — |pairs|·|shingles/doc| intermediate
    * rows, measured 39 s vs 4 s for this form on the sf0.1 ngram workload
    * (436k pairs × ~52 shingles ≈ 23M exploded rows). Per-row state is
    * bounded by DOCUMENT length (the same bound the signature builders'
    * aggregation buffers already accept), never by corpus size, and sizes
    * ride along as `size(set)` — no separate sizes aggregation or join.
    */
  def jaccardVerify(pairs: DataFrame, shingleTbl: DataFrame, idCol: String,
                    threshold: Double): DataFrame =
    jaccardVerifySets(pairs,
      shingleTbl.groupBy(col(idCol)).agg(collect_set(col("shingle")).as("_set")),
      idCol, threshold)

  /** [[jaccardVerify]] over an already-built per-doc set table
    * `(idCol, _set)` — for callers that hold the shingle ARRAY anyway
    * (the ngram path derives it straight from the token projection,
    * skipping the explode→regroup round trip entirely).
    */
  def jaccardVerifySets(pairs: DataFrame, sets: DataFrame, idCol: String,
                        threshold: Double): DataFrame =
    pairSetIntersections(pairs, sets, idCol)
      .withColumn("jac", col("n_inter").cast("double") /
        (size(col("_sa")) + size(col("_sb")) - col("n_inter")).cast("double"))
      .where(col("jac") >= lit(threshold))
      .select("doc_a", "doc_b", "jac")

  /** The ONE pairs ⋈ per-doc-set join/intersection shape the exact
    * verifies (Jaccard, containment) compute their metrics over — the
    * tuned physical decisions live here once so the variants cannot
    * drift:
    *
    * Both join sides are corpus-sized (candidate pairs; one row per doc) —
    * never broadcast (wrong at 100 TB, and each broadcast build is a
    * scheduling-round job on the driver). SHUFFLED-HASH, not sort-merge:
    * SMJ would sort the pair stream, and after the first join every pair
    * row carries a document-sized set payload — sorting ~KB rows is the
    * dominant cost (measured 12 s → 3 s on the sf0.1 ngram workload).
    * The BUILD side is always the per-doc set table: its per-partition
    * slice is |docs|/nPartitions rows — the same boundedness argument as
    * [[graft.ops.Joins.skewSaltedJoin]]'s salted build side.
    * Sets are sorted ONCE per doc (array_sort = UTF8String binary order)
    * so the per-pair intersection is a zero-allocation merge walk
    * (SortedIntersectCountExpr) instead of array_intersect's per-row
    * hash-set build — measured 13.5 s → ~1 s over 436k pairs.
    * Returns the pair rows with `_sa`, `_sb`, `n_inter` attached.
    */
  private def pairSetIntersections(pairs: DataFrame, sets: DataFrame,
                                   idCol: String): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("doc_a"),
        array_sort(col("_set")).as("_sa")).hint("shuffle_hash"), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"),
        array_sort(col("_set")).as("_sb")).hint("shuffle_hash"), "doc_b")
      .withColumn("n_inter",
        graft.functions.SetOps.sortedIntersectCount(col("_sa"), col("_sb")).cast("long"))

  /** EXACT n-gram Jaccard near-dup pairs — the deterministic member of the
    * dedup family (MinHash trades recall for cost probabilistically; this
    * trades it EXPLICITLY via a document-frequency cap). Candidates come
    * from a df-capped inverted index: shingles appearing in more than
    * `maxDf` documents — boilerplate, stopword runs — are excluded from
    * candidate GENERATION (never from the Jaccard itself), so the self-join
    * emits at most `maxDf · |shingle table|` pairs instead of Σ df² — the
    * quadratic hot-shingle corner is capped exactly like the LSH bucket cap
    * in [[lshCandidatePairsCapped]]. A pair is missed only when EVERY
    * common shingle is hotter than `maxDf`; with any rare shingle shared,
    * recall is 1 — strictly stronger than MinHash banding on the same
    * candidates. The verify then computes exact Jaccard over the FULL
    * shingle sets, so emitted `jac` values are exact regardless of the cap.
    * The df count rides a window over the same shingle partitioning the
    * join needs — no extra shuffle of the corpus-sized table; both
    * self-join sides are corpus-sized and merge-hinted (broadcast would be
    * wrong at 100 TB).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, threshold: Double, maxDf: Int): DataFrame = {
    val (sh, cand) = ngramCandidateStats(docs, idCol, textCol, shingleN, maxDf)
    // PPJoin-style EXACT upper-bound prefilter for the JACCARD metric:
    // jac >= t ⟺ n_inter >= t/(1+t)·(na+nb); the ε only ADMITS borderline
    // pairs — the exact verify decides
    val bounded = cand
      .where(col("_ub").cast("double") * lit(1.0 + threshold) >=
        lit(threshold) * (col("_na") + col("_nb")).cast("double") - lit(1e-6))
      .select("doc_a", "doc_b")
    // verify via the generic explode→collect_set route for the same
    // codegen reason as ngramCandidateStats's perDoc aggregation
    jaccardVerify(bounded, sh, idCol, threshold)
  }

  /** EXACT n-gram CONTAINMENT pairs — the quote/boilerplate-inclusion
    * duplication Jaccard structurally misses: a small document fully
    * embedded in a large one has jac ≈ |A|/|B| (arbitrarily low as the
    * host grows) but containment |A∩B|/min(|A|,|B|) = 1. The metric a
    * training-data pipeline needs for "this doc is substantially a quote
    * of that one" — the dedup decision is then one-sided (drop the
    * contained doc, keep the host), unlike symmetric near-dup.
    *
    * Candidate generation, recall argument, and cost bound are
    * [[ngramJaccardPairs]]'s, shared via [[ngramCandidateStats]]: a
    * qualifying pair is missed only when EVERY common shingle is hotter
    * than `maxDf`. The admit bound adapts to the containment metric
    * (n_inter ≥ t·min(na, nb), with the same exact integer upper bound on
    * n_inter), and the verify computes exact containment over the FULL
    * shingle sets. Emits (doc_a, doc_b, containment ≥ threshold).
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, threshold: Double, maxDf: Int): DataFrame = {
    val (sh, cand) = ngramCandidateStats(docs, idCol, textCol, shingleN, maxDf)
    val bounded = cand
      .where(col("_ub").cast("double") >=
        lit(threshold) * least(col("_na"), col("_nb")).cast("double") - lit(1e-6))
      .select("doc_a", "doc_b")
    containmentVerify(bounded, sh, idCol, threshold)
  }

  /** Exact containment verify — [[jaccardVerifySets]]'s join/merge-walk
    * shape (shuffled-hash, sorted zero-allocation intersection) with the
    * containment metric n_inter / min(|A|, |B|).
    */
  def containmentVerify(pairs: DataFrame, shingleTbl: DataFrame, idCol: String,
                        threshold: Double): DataFrame = {
    val sets = shingleTbl.groupBy(col(idCol)).agg(collect_set(col("shingle")).as("_set"))
    pairSetIntersections(pairs, sets, idCol)
      .withColumn("containment", col("n_inter").cast("double") /
        least(size(col("_sa")), size(col("_sb"))).cast("double"))
      .where(col("containment") >= lit(threshold))
      .select("doc_a", "doc_b", "containment")
  }

  /** The shared df-capped inverted-index candidate core of the exact
    * n-gram pair family ([[ngramJaccardPairs]], [[ngramContainmentPairs]]).
    * Returns `(sh, cand)`: the exploded distinct (id, shingle) table, and
    * per candidate pair the exact-integer bound inputs — `_shared_kept`
    * (shingles shared among df ≤ maxDf postings), `_na`/`_nb` (full
    * distinct-shingle sizes), `_ha`/`_hb` (per-doc hot-shingle counts) and
    * `_ub` = `_shared_kept + least(_ha, _hb)`, a TRUE upper bound on the
    * pair's intersection — so each caller's metric-specific admit filter
    * can never lose a qualifying pair.
    */
  private def ngramCandidateStats(docs: DataFrame, idCol: String, textCol: String,
                                  shingleN: Int, maxDf: Int): (DataFrame, DataFrame) = {
    // ID TYPE CONTRACT (the whole exact n-gram pair family): ids must be
    // INTEGRAL — CappedIds' postings buffer encodes them as Long (int ids
    // widen to bigint in doc_a/doc_b). The hash families (minhash,
    // simhash) take any id type; a string/UUID-keyed corpus maps ids
    // through a lookup before using this family — checked loudly here
    // instead of failing as an up-cast error inside the aggregation plan
    require(isIntegralIdType(docs.schema(idCol).dataType),
      s"ngram pair ids must be integral (got ${docs.schema(idCol).dataType.simpleString}: " +
        "CappedIds encodes postings as Long — map string/UUID ids through a lookup first)")
    // the exploded shingle table feeds ONLY the candidate chain (the
    // verify's per-doc sets derive straight from the token projection, no
    // explode→regroup round trip) and is deliberately NOT persisted:
    // measured at the bench posture, caching the exploded string table
    // costs MORE than recomputing the codegen'd tokenize+explode — the
    // opposite trade from minhashNearDupPairs, whose signature pass
    // collapses the cached table before the joins. At 100 TB the same
    // logic holds: re-reading parquet + re-exploding is a scan-local
    // cost; a corpus-sized cache is not.
    val sh = shingleTable(docs, idCol, textCol, shingleN)
    // ONE partial-aggregated shuffle builds the df-capped inverted index:
    // CappedIds bounds per-shingle state at maxDf+1 ids by construction
    // (hot shingles advance only their exact count), so neither the
    // aggregation buffers nor the exchange grow with a shingle's df. This
    // replaces the previous window-count + corpus self-join formulation —
    // three string-keyed sorts of the exploded table — with one combine-
    // collapsed exchange (measured 13.2 s → ~7 s at sf0.1).
    val postings = sh.groupBy(col("shingle"))
      .agg(graft.functions.CappedIds(maxDf)(col(idCol)).as("_g"))
      .select(col("_g.n").as("_df"), col("_g.ids").as("_ids"))
    // persisted: postings feed pair generation AND the per-doc kept
    // counts; the table is one bounded row per DISTINCT shingle
    val keptLists = postings.where(col("_df") <= maxDf).select(col("_ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pairs from each complete posting list: ids are sorted, so (i < j)
    // enumeration yields doc_a < doc_b directly; ≤ maxDf(maxDf−1)/2 pairs
    // per shingle by construction. The groupBy keeps the shared-kept count
    // for the bound filter below.
    val cand = keptLists
      .select(posexplode(col("_ids")).as(Seq("_i", "doc_a")), col("_ids"))
      .select(col("doc_a"),
        // length = list size (slice clamps at the end); a literal maxDf
        // would overflow the int start+length arithmetic at cap=MaxValue
        explode(slice(col("_ids"), col("_i") + 2, size(col("_ids")))).as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("_shared_kept"))
    // PPJoin-style EXACT upper-bound prefilter: a pair's true intersection
    // is (shared kept) + (shared hot) ≤ _shared_kept + min(hot_a, hot_b),
    // where hot_x = |x| − |kept_x| is a per-doc INTEGER. Joining two ints
    // per side costs nothing; the document-sized set arrays then move only
    // for the pairs that can still clear the threshold (measured: 436k
    // candidates → ~3k survivors → the array-payload join stops being the
    // query's dominant cost, 15 s → ~8 s at sf0.1). The bound is a true
    // upper bound, so no qualifying pair is lost, and the ε-relaxed
    // compare only ADMITS borderline pairs — the exact verify decides.
    // per-doc distinct-shingle totals from the EXPLODED table (sh is
    // per-doc distinct, so count = set size). Deliberately NOT the direct
    // `size(shinglesFromTokens(...))` projection: higher-order functions
    // (transform/filter) run OUTSIDE whole-stage codegen, and evaluating
    // the nested HOF chain interpreted measured ~2.5 ms/doc (12 s at
    // sf0.1) vs 0.8 s for the explode→aggregate route — the Generate
    // path is where Spark evaluates these cheaply.
    val perDoc = sh.groupBy(col(idCol)).agg(count(lit(1)).as("_n_sh"))
    val keptPerDoc = keptLists.select(explode(col("_ids")).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("_n_kept"))
    // persisted: three longs per doc (the smallest corpus-derived table in
    // the query), consumed by BOTH bound-join sides — without the persist
    // each side re-runs keptPerDoc's whole window chain
    val stats = perDoc.join(keptPerDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), col("_n_sh"),
        (col("_n_sh") - coalesce(col("_n_kept"), lit(0L))).as("_n_hot"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withBound = cand
      .join(stats.select(col(idCol).as("doc_a"), col("_n_sh").as("_na"),
        col("_n_hot").as("_ha")).hint("shuffle_hash"), "doc_a")
      .join(stats.select(col(idCol).as("doc_b"), col("_n_sh").as("_nb"),
        col("_n_hot").as("_hb")).hint("shuffle_hash"), "doc_b")
      .withColumn("_ub", col("_shared_kept") + least(col("_ha"), col("_hb")))
    (sh, withBound)
  }

  /** End-to-end MinHash-LSH near-dedup: (doc_a, doc_b, jac) pairs.
    *
    * The shingle table feeds four downstream consumers (signatures, sizes,
    * and both sides of the intersection join); without persisting it, Spark
    * re-tokenizes and re-explodes the corpus once per consumer. At 100 TB
    * this intermediate would be checkpointed to distributed storage; locally
    * MEMORY_AND_DISK. It stays cached for the returned plan's consumers and
    * is released by the session's next `catalog.clearCache()` (the bench
    * clears per query) or `unpersist` — long-lived sessions issuing many
    * dedup passes should clear between passes, same convention as
    * [[graft.ops.Analytics.skewProfile]] / `vocabCoverage`.
    */
  def minhashNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucketSize: Int = Int.MaxValue): DataFrame =
    minhashNearDupPairsFromShingles(
      shingleTable(docs, idCol, textCol, MinhashShingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      idCol, threshold, maxBucketSize)

  /** The MinHash-LSH layout every near-dup caller runs: 3-token shingles,
    * 8 hashes in 4 bands of 2 rows (the S-curve's midpoint sits near
    * Jaccard 0.5). [[graft.streaming.Streaming.nearDupFilterSink]]'s
    * signature store is built with the same layout.
    */
  private[graft] val MinhashShingleN = 3
  private[graft] val MinhashNumHashes = 8
  private[graft] val MinhashRowsPerBand = 2

  /** The LSH sign→bucket→verify chain over a prebuilt shingle table. The
    * caller owns the table's persistence — it is read by four consumers
    * (signatures, sizes, and both sides of the intersection join), so pass
    * it persisted unless it is itself a cheap cached projection. The
    * signature table has a single consumer (buckets — sizes ride inside
    * the verify's per-doc sets), so it is not persisted.
    */
  def minhashNearDupPairsFromShingles(
      sh: DataFrame, idCol: String,
      threshold: Double = 0.5, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val buckets = lshBuckets(minhashSignatures(sh, idCol), idCol)
    jaccardVerify(lshCandidatePairsCapped(buckets, idCol, maxBucketSize), sh, idCol, threshold)
  }

  // ---------------------------------------------------------------- SimHash

  /** Simhash width: 15 hex chars of md5 = 60 bits. 16 chars (64 bits) would
    * overflow a signed BIGINT during hex→int parsing in BOTH engines
    * (2⁶⁴−1 > Long.MaxValue → null), so 60 is the widest portable hash. The
    * width matters for scale: 4 pigeonhole chunks of 15 bits give 4×2¹⁵ =
    * 131,072 buckets, so expected candidate pairs grow ~N²/32k per chunk —
    * a 32-bit/8-bit-chunk layout caps at 1,024 buckets and goes quadratic at
    * corpus scale.
    */
  val SimhashBits = 60
  private val SimhashChunks = 4
  private val SimhashChunkBits = SimhashBits / SimhashChunks

  /** 60-bit SimHash per doc over md5-hashed tokens (term-frequency weighted:
    * duplicate tokens count). Bit i of the hash is set iff the sum over
    * tokens of (2·bit_i(h) − 1) is ≥ 0, where h is the token's first 60 md5
    * bits parsed ONCE into a long (`conv(hex, 16, 10)`); each bit is then a
    * shift-and-mask inside codegen rather than a substring+ascii string op
    * (the round-1 profile spent 16% of the whole bench in that extraction).
    * One explode + one groupBy(doc) — single shuffle, linear.
    */
  def simhash60(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // md5Bits60 = conv(substring(md5hex, 1, 15), 16, 10) without the per-
    // token 32-char hex materialization + substring + string parse (r20
    // probe: 0.65 → 0.38 s on the signature pass, 0 differing hashes over
    // the full token stream; kernel-vs-definition equality is also a
    // DedupSpec property)
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", graft.functions.Md5SlicesOps.md5Bits60(col("tok")))
    val contribs = (0 until SimhashBits).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$i")
    }
    val sums = tok.groupBy(col(idCol)).agg(contribs.head, contribs.tail: _*)
    val hash = (0 until SimhashBits).map { i =>
      when(col(s"s$i") >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), hash.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance <= 3.
    *
    * Candidates come from 4 × 15-bit chunk buckets: any pair with hamming <= 3
    * must agree on at least one of the 4 chunks (pigeonhole), so the bucketed
    * equi-join is *exact* — identical result to the O(N²) scan the oracle
    * runs, at O(N·bucket) cost.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxBucketWidth: Int = Int.MaxValue): DataFrame =
    simhashPairsByChunks(simhash60(docs, idCol, textCol), idCol,
      SimhashChunks, SimhashChunkBits, maxBucketWidth)

  /** The hamming radius of both banded pair generators: with 4 chunks,
    * pigeonhole guarantees a pair at hamming <= 3 shares a chunk.
    */
  private[graft] val MaxHamming = 3

  /** The per-signature (k, chunk) bucket rows both the pair generator and
    * the oversized-bucket audit derive from — one definition so the two
    * cannot drift on the chunk layout.
    */
  private def chunkBuckets(sh: DataFrame, idCol: String,
                           numChunks: Int, chunkBits: Int): DataFrame = {
    val chunkMask = (1L << chunkBits) - 1
    sh.select(col(idCol), col("simhash"),
      explode(array((0 until numChunks).map(k =>
        struct(lit(k).as("k"),
          shiftright(col("simhash"), k * chunkBits).bitwiseAND(lit(chunkMask)).as("chunk"))): _*)).as("c"))
      .select(col(idCol), col("simhash"), col("c.k"), col("c.chunk"))
  }

  /** The shared chunk-bucket → hamming-verify half of the text simhash and
    * arbitrary-signature forms, over a (idCol, simhash) frame —
    * parameterized by the chunk layout, since [[simhashNearDupPairs]]
    * (4×15-bit) and [[hammingNearDupPairs]] (4×16-bit) differ.
    *
    * `maxBucketWidth` is the 100-TB guard this family shares with
    * [[lshCandidatePairsCapped]] and
    * [[graft.ops.Similarity.srpCandidatePairsCapped]]: a degenerate corpus
    * (near-constant perceptual hashes, boilerplate pages) puts B docs in
    * one (k, chunk) bucket and the self-join emits B² rows BEFORE the
    * hamming filter can reject them — the cheap per-candidate `bit_count`
    * does not save a quadratic candidate count. Buckets wider than the cap
    * are DROPPED from pair generation on every chunk they overflow (true
    * near-dups at hamming ≤ 3 agree on ≥ numChunks − 3 chunks, so a pair
    * survives unless ALL its agreeing chunks overflow; exact dups agree on
    * all chunks and are the last to go). The drop is observable via the
    * oversized-buckets audits — run one alongside and alert, so the cap is
    * an explicit, monitored recall trade instead of a silent quadratic
    * cliff. The width count rides the SAME (k, chunk) partitioning the
    * join needs — no extra shuffle of the bucket table.
    */
  private def simhashPairsByChunks(sh: DataFrame, idCol: String,
                                   numChunks: Int, chunkBits: Int,
                                   maxBucketWidth: Int): DataFrame = {
    val kept = capBuckets(chunkBuckets(sh, idCol, numChunks, chunkBits),
      Seq("k", "chunk"), maxBucketWidth)
    val a = kept.select(col("k"), col("chunk"), col(idCol).as("doc_a"), col("simhash").as("h_a"))
    val b = kept.select(col("k"), col("chunk"), col(idCol).as("doc_b"), col("simhash").as("h_b"))
    // hamming-filter BEFORE the distinct: duplicate candidates (one per
    // shared chunk) only cost an integer bit_count each, while a distinct
    // over the raw candidate set shuffles millions of pairs when simhashes
    // correlate (similar corpora make chunk buckets large).
    a.join(b, Seq("k", "chunk"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("bit_count", col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .where(col("hamming") <= lit(MaxHamming))
      .distinct()
  }

  /** Near-dup pairs over an ARBITRARY 64-bit signature column (perceptual
    * image hashes, audio fingerprints — anything already reduced to a
    * 64-bit key): the exact pigeonhole band join of [[simhashNearDupPairs]]
    * with 4×16-bit chunks (any pair at hamming ≤ 3 agrees on ≥1 chunk), exposed
    * so multimodal pipelines reuse the text-dedup machinery instead of
    * growing a second pair generator. Returns (doc_a, doc_b, hamming).
    */
  def hammingNearDupPairs(sig: DataFrame, idCol: String, hashCol: String,
                          maxBucketWidth: Int = Int.MaxValue): DataFrame =
    simhashPairsByChunks(sig.select(col(idCol), col(hashCol).cast("long").as("simhash")),
      idCol, numChunks = 4, chunkBits = 16, maxBucketWidth)

  /** The (k, chunk, width) buckets the capped hamming/simhash band family
    * drops at the given cap — the monitoring side-output for the recall
    * trade (alert on its count; a sudden rise means the corpus grew a
    * degenerate signature regime — near-constant perceptual hashes,
    * boilerplate — and the cap is now biting). This is the 4×16-bit
    * arbitrary-signature layout of [[hammingNearDupPairs]]; the md5 text
    * form's audit is [[simhashOversizedBuckets]].
    */
  def hammingOversizedBuckets(sig: DataFrame, idCol: String, hashCol: String,
                              maxBucketWidth: Int): DataFrame =
    chunkOversizedBuckets(
      sig.select(col(idCol), col(hashCol).cast("long").as("simhash")),
      idCol, numChunks = 4, chunkBits = 16, maxBucketWidth)

  /** [[hammingOversizedBuckets]] for the md5/60-bit text form
    * ([[simhashNearDupPairs]]'s 4×15-bit chunk layout).
    */
  def simhashOversizedBuckets(docs: DataFrame, idCol: String, textCol: String,
                              maxBucketWidth: Int): DataFrame =
    chunkOversizedBuckets(simhash60(docs, idCol, textCol), idCol,
      SimhashChunks, SimhashChunkBits, maxBucketWidth)

  private def chunkOversizedBuckets(sh: DataFrame, idCol: String,
                                    numChunks: Int, chunkBits: Int,
                                    maxBucketWidth: Int): DataFrame =
    chunkBuckets(sh, idCol, numChunks, chunkBits)
      .groupBy(col("k"), col("chunk"))
      .agg(count(lit(1)).as("width"))
      .where(col("width") > maxBucketWidth)

  // ------------------------------------------------- cluster resolution

  /** Resolve near-dup PAIRS into dedup CLUSTERS: every document that appears
    * in a pair is labeled with the minimum id reachable through the pair
    * graph (its connected component's representative) — the step that turns
    * pairwise similarity into an actual keep/drop decision (keep the rep,
    * drop the rest).
    *
    * Two physical strategies behind one contract, picked by the measured
    * edge count (the pair set is materialized exactly once either way):
    *
    *  - **small graph** (≤ `smallGraphEdges`, the overwhelmingly common
    *    case: LSH near-dup pairs are a sliver of corpus size): a
    *    single-pass union-find by min id inside ONE executor task
    *    (`coalesce(1).mapPartitions`). One job, no per-round shuffles, no
    *    driver materialization — the edge rows never leave executor space.
    *  - **large graph**: min-label propagation with pointer jumping. Each
    *    round is (a) label(v) ← min(label(v), min label over v's
    *    neighbors) — one shuffle on the edge key — then (b) label(v) ←
    *    label(label(v)) — one shuffle on the label — which halves the
    *    remaining label-tree depth, so convergence is O(log diameter)
    *    rounds rather than O(diameter). Rounds are driver-controlled with
    *    a scalar changed-count per round (no data ever collects to the
    *    driver) and `localCheckpoint` truncates the plan lineage so round
    *    N's plan does not embed rounds 1..N-1.
    *
    * Both compute "min id reachable", which is iteration-order
    * independent, hence deterministic and oracle-comparable, and both keep
    * every row on executors. The adaptive switch is the 100-TB design: a
    * per-round distributed loop pays ~4 shuffles × scheduling latency per
    * round, which dwarfs the actual work unless the pair graph itself is
    * cluster-scale; the threshold (default 4M edges ≈ a few hundred MB of
    * union-find state in one task) is where that trade flips.
    */
  /** [[dedupClusters]] for pair sets the CALLER already knows are bounded
    * (a streaming trigger's in-batch candidate pairs, a test fixture):
    * straight to the single-task union-find with NO strategy-count job and
    * NO checkpoint — the result is a lazy plan that rides its consumer's
    * job (persist it when there are several consumers; lineage stays
    * intact, so cache eviction recomputes instead of failing). The caller
    * owns the boundedness claim: pair sets that can exceed
    * [[dedupClusters]]'s `smallGraphEdges` (~4M edges of union-find state
    * in one task) must use the adaptive entry instead.
    */
  def dedupClustersBounded(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // the single-task union-find compares ids via Comparable (same
    // restriction dedupClusters' small path checks before CHOOSING it);
    // here there is no label-propagation fallback, so reject exotic key
    // types loudly instead of throwing ClassCastException mid-task
    require(comparableKeyType(p),
      "dedupClustersBounded: id columns must be the same Comparable type " +
        "(numeric/string/boolean/date/timestamp) — use dedupClusters for other key types")
    clustersByUnionFind(p)
  }

  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String,
                    maxRounds: Int = 30,
                    smallGraphEdges: Long = 4L * 1000 * 1000): DataFrame = {
    // checkpoint the (possibly expensive — e.g. an LSH pipeline) pair set
    // ONCE: the edge count, both union branches, and every propagation
    // round then read the materialized rows instead of re-running the
    // producer plan. The checkpoint is LAZY so the count() both
    // materializes it and measures it in a single job (an eager checkpoint
    // followed by a count is two jobs over the same rows — scheduling
    // latency per job is the dominant cost of this operator on a loaded
    // host, not the work itself).
    // null-endpoint edges identify no document pair — filter them ONCE
    // here so BOTH strategies see the same edge set (union-find would skip
    // them; label propagation would otherwise seed labels for the non-null
    // endpoint and a spurious null node — divergent outputs across the
    // adaptive switch)
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .graftCheckpoint(eager = false)
    val edgeCount = p.count()
    // ZERO edges = zero clusters, decidable right here from the count the
    // strategy switch already paid for: return an empty LOCAL relation
    // instead of running the union-find task + checkpoint job over nothing.
    // Downstream, the optimizer's PropagateEmptyRelation then collapses
    // anti-joins/unions against this result outright (the streaming
    // near-dup sink's steady-state trigger carries no in-batch pairs, so
    // this removes whole per-trigger scheduling rounds, not just one).
    if (edgeCount == 0L) {
      org.apache.spark.sql.GraftBridge.freeCheckpoint(p)
      // output type = what the NON-EMPTY paths would produce, derived from
      // the same src∪dst union both strategies key on (label propagation
      // promotes mixed src/dst types through union/least; union-find
      // requires them equal, where the union is the identity) — the result
      // schema must not depend on whether the input happened to be empty,
      // or downstream unions across calls/triggers break on the first
      // empty batch (r19 ADVICE)
      val dt = p.select(col("src")).union(p.select(col("dst")))
        .schema.fields.head.dataType
      return p.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", dt, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_rep", dt, nullable = false))))
    }
    val small = edgeCount <= smallGraphEdges
    val comparableKey = comparableKeyType(p)
    if (small && comparableKey) {
      val out = clustersByUnionFind(p).graftCheckpoint()
      org.apache.spark.sql.GraftBridge.freeCheckpoint(p)
      return out
    }
    clustersByLabelPropagation(p, maxRounds)
  }

  // the single-task union-find needs runtime-Comparable ids (String,
  // numerics, date/timestamp map to Comparable JVM types) and BOTH
  // columns of the same type (Integer.compareTo(Long) throws); exotic
  // or mixed key types fall back to the shuffle-based path, which
  // orders via Spark's own `least` semantics instead
  private def comparableKeyType(p: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    val srcDt = p.schema("src").dataType
    srcDt == p.schema("dst").dataType && (srcDt match {
      case _: NumericType => true
      case StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
  }

  /** Small-graph strategy: union-find by min id, one executor task.
    * Null-endpoint edges were already filtered by [[dedupClusters]]; the
    * null check here is belt-and-braces for direct callers.
    */
  private def clustersByUnionFind(p: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StructField, StructType}
    val dt = p.schema("src").dataType
    val outSchema = StructType(Seq(
      StructField("doc_id", dt, nullable = false),
      StructField("cluster_rep", dt, nullable = false)))
    p.coalesce(1).mapPartitions { it =>
      // parent-pointer forest with path compression; union points the
      // LARGER root at the smaller, so each final root is its component's
      // minimum id — exactly "min reachable id"
      val parent = new java.util.HashMap[Any, Any]()
      def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
      def findRoot(x0: Any): Any = {
        var x = x0
        while (parent.get(x) != x) {
          val gp = parent.get(parent.get(x))
          parent.put(x, gp); x = gp
        }
        x
      }
      it.foreach { r =>
        val a = r.get(0); val b = r.get(1)
        if (a != null && b != null) {
          parent.putIfAbsent(a, a) // seed as own root
          parent.putIfAbsent(b, b)
          val ra = findRoot(a); val rb = findRoot(b)
          if (ra != rb) {
            if (cmp(ra, rb) < 0) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      val ks = parent.keySet().iterator()
      new Iterator[Row] {
        def hasNext: Boolean = ks.hasNext
        def next(): Row = { val v = ks.next(); Row(v, findRoot(v)) }
      }
    }(Encoders.row(outSchema))
  }

  /** Rounds the last [[clustersByLabelPropagation]] run took to converge —
    * a test/monitoring observable (the scale contract is rounds ≈
    * ⌈log₂ diameter⌉, and inferring rounds from Spark job counts is
    * brittle: jobs-per-round varies by Spark version and checkpoint
    * materialization). Single-session diagnostics only; concurrent runs
    * race benignly on it.
    */
  @volatile private[graft] var lastPropagationRounds: Int = -1

  /** Large-graph strategy: pointer-jumping min-label propagation. */
  private def clustersByLabelPropagation(p: DataFrame, maxRounds: Int): DataFrame = {
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .graftCheckpoint()
    // Checkpoint-storage hygiene: once round N is materialized, round N-1's
    // blocks are dead — free them, or block storage grows with rounds ×
    // calls for the session lifetime (clearCache never touches checkpoint
    // RDDs). Bounded live set: the pair set + the last two rounds.
    var prevCp: DataFrame = labels
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // Per-round costs exactly ONE job: the changed-count. The old label
      // rides along in the same plan (a separate compare-join would double
      // the per-round jobs, which dominate wall time on small graphs), and
      // the LAZY localCheckpoint below truncates lineage — the round's
      // self-join references its input twice, so without the cut the
      // logical plan doubles every round (exponential analyzer cost) —
      // while deferring materialization to the count.
      val nbrMin = edges
        .join(labels.select(col("v").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("v")).agg(min(col("label")).as("_nbr"))
      val stepped = labels.withColumnRenamed("label", "_old")
        .join(nbrMin, Seq("v"), "left")
        .select(col("v"), col("_old"),
          least(col("_old"), coalesce(col("_nbr"), col("_old"))).as("label"))
      val jumped = stepped
        .join(stepped.select(col("v").as("label"), col("label").as("_parent")),
          Seq("label"), "left")
        .select(col("v"),
          coalesce(col("_parent"), col("label")).as("label"),
          (coalesce(col("_parent"), col("label")) =!= col("_old")).as("_chg"))
        .graftCheckpoint(eager = false)
      changed = jumped.where(col("_chg")).count()
      org.apache.spark.sql.GraftBridge.freeCheckpoint(prevCp)
      prevCp = jumped
      labels = jumped.select(col("v"), col("label"))
      round += 1
    }
    lastPropagationRounds = round
    // The pair-set checkpoint is dead too: the final labels read only the
    // last round's blocks. (Those last blocks back the RETURNED DataFrame
    // and must stay; they are freed when the session drops the reference.)
    org.apache.spark.sql.GraftBridge.freeCheckpoint(p)
    // Unconverged labels are silent data corruption downstream (wrong
    // keep/drop decisions in applyClusterDedup) — fail loudly instead.
    // Practically unreachable: pointer jumping covers diameter ~2^maxRounds.
    if (changed > 0)
      throw new IllegalStateException(
        s"dedupClusters: $changed labels still changing after $maxRounds rounds — raise maxRounds")
    labels.select(col("v").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** PageRank over an edge list (fixed iteration count, damping d = 0.85):
    * pr ← (1−d)/N + d·Σ_in pr/outdeg. The per-node contribution sum runs
    * in DECIMAL(38,18) so it is order-independent under partial
    * aggregation — the same double result whatever Spark's merge order —
    * then one double expression per round. Dangling-node mass is dropped
    * (the simplified variant; ranks still order correctly), documented.
    * Rounds chain LAZILY — each round's frame is referenced exactly once
    * by the next, so the whole loop materializes in the consumer's single
    * job; an eager `localCheckpoint` every [[CheckpointEvery]] rounds (and
    * on the last) bounds unrolled plan depth and lineage for large
    * iteration counts at ⌈iters/8⌉ driver jobs instead of
    * one per round. Complements [[dedupClusters]]: components give the
    * keep/drop partition, PageRank gives a centrality WITHIN a component
    * (e.g. pick the most-linked representative instead of min-id).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10): DataFrame = {
    require(iters >= 1)
    val damping = PageRankDampNum.toDouble / PageRankDampDen
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).graftCheckpoint()
    // widen the flat edge table with outdeg ONCE: the per-iteration plan
    // then joins pr exactly once — no per-iteration outdeg join, no third
    // checkpointed scaffold frame
    val e = e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).hint("merge"),
      "src").graftCheckpoint()
    org.apache.spark.sql.GraftBridge.freeCheckpoint(e0)
    val nodes = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().graftCheckpoint(eager = false)
    val n = nodes.count().toDouble // materializes the lazy checkpoint too
    var pr = nodes.select(col("v"), lit(1.0 / n).as("pr"))
    var lastEager: DataFrame = null
    for (i <- 1 to iters) {
      val contribs = e.join(pr.select(col("v").as("src"), col("pr")), "src")
        .select(col("dst").as("v"), (col("pr") / col("outdeg")).as("_c"))
        .groupBy(col("v"))
        .agg(sum(col("_c").cast("decimal(38,18)")).cast("double").as("_sum"))
      pr = nodes.join(contribs, Seq("v"), "left")
        .select(col("v"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("_sum"), lit(0.0))).as("pr"))
      // iterations chain LAZILY (each round's frame is referenced exactly
      // once by the next, so nothing recomputes); an EAGER checkpoint every
      // CheckpointEvery rounds — and always on the last — bounds the
      // unrolled plan depth and lineage for large iteration counts while
      // paying ⌈iters/CheckpointEvery⌉ jobs instead of one per round. Only
      // one eager round is ever pinned: each frees its predecessor.
      if (i % CheckpointEvery == 0 || i == iters) {
        pr = pr.graftCheckpoint()
        if (lastEager != null) org.apache.spark.sql.GraftBridge.freeCheckpoint(lastEager)
        lastEager = pr
      }
    }
    org.apache.spark.sql.GraftBridge.freeCheckpoint(e)
    org.apache.spark.sql.GraftBridge.freeCheckpoint(nodes)
    pr
  }

  /** The rounds between eager checkpoints of the iterative graph loops
    * ([[pageRank]], [[pageRankFixedPoint]], label propagation; HITS's
    * default).
    */
  private[ops] val CheckpointEvery = 8

  /** PageRank's damping 17/20 and fixed-point scale 10¹⁵, shared by
    * [[pageRankFixedPoint]] and its DuckDB mirror
    * [[graft.Queries.pageRankOracleSql]].
    */
  private[graft] val PageRankDampNum = 17L
  private[graft] val PageRankDampDen = 20L
  private[graft] val PageRankScale = 1000000000000000L

  /** FIXED-POINT PageRank: the [[pageRank]] recurrence with every value a
    * scaled long (units of 1/`scale`) and every operation integer-exact —
    * per-edge contribution is `pr div outdeg`, damping is `· 17 div 20`
    * — so the result is BIT-IDENTICAL across engines, partition
    * orders, and replays. Floating PageRank accumulates order-dependent
    * rounding that makes "same rank, different run" impossible to assert;
    * for a dedup pipeline that uses centrality to pick cluster
    * representatives, reproducibility is a correctness property (a
    * representative that flips between runs invalidates downstream
    * incremental state). Quantization error per iteration is ≤ 1/scale per
    * edge (floor division), i.e. ≤ outdeg·10⁻¹⁵ absolute — far below any
    * ranking decision. Overflow-safe by construction: total mass stays ≤
    * `scale` = 10¹⁵, so a node's contribution sum ≤ 10¹⁵ and the damping
    * product ≤ 17·10¹⁵ ≪ 2⁶³.
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int = 10): DataFrame = {
    require(iters >= 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).graftCheckpoint()
    // outdeg rides on the flat edge table (see [[pageRank]]): one setup
    // join instead of one join per iteration
    val e = e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).hint("merge"),
      "src").graftCheckpoint()
    org.apache.spark.sql.GraftBridge.freeCheckpoint(e0)
    val nodes = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .distinct().graftCheckpoint(eager = false)
    val n = nodes.count() // materializes the lazy checkpoint too
    require(n > 0, "pageRankFixedPoint: empty edge set — no nodes to rank " +
      "(an upstream pair generator produced no pairs?)")
    val base = (PageRankScale - PageRankScale * PageRankDampNum / PageRankDampDen) / n
    var pr = nodes.select(col("v"), lit(PageRankScale / n).as("pr"))
    var lastEager: DataFrame = null
    for (i <- 1 to iters) {
      val contribs = e.join(pr.select(col("v").as("src"), col("pr")), "src")
        .select(col("dst").as("v"), expr("pr div outdeg").as("_c"))
        .groupBy(col("v"))
        .agg(sum(col("_c")).as("_sum"))
      pr = nodes.join(contribs, Seq("v"), "left")
        .select(col("v"),
          (lit(base) + expr(s"coalesce(_sum, 0L) * ${PageRankDampNum}L div ${PageRankDampDen}L")).as("pr"))
      // lazy chain + periodic eager checkpoint — the [[pageRank]] job
      // discipline (⌈iters/CheckpointEvery⌉ jobs, not one per round)
      if (i % CheckpointEvery == 0 || i == iters) {
        pr = pr.graftCheckpoint()
        if (lastEager != null) org.apache.spark.sql.GraftBridge.freeCheckpoint(lastEager)
        lastEager = pr
      }
    }
    org.apache.spark.sql.GraftBridge.freeCheckpoint(e)
    org.apache.spark.sql.GraftBridge.freeCheckpoint(nodes)
    pr
  }

  /** Benchmark decontamination: for every corpus doc, the fraction of its
    * distinct n-gram shingles that also appear ANYWHERE in the benchmark
    * set — the standard eval-contamination check run before training. The
    * benchmark's distinct shingle set is typically tiny next to the corpus,
    * so the semi-join broadcasts; per-doc aggregation is map-side partial.
    * Docs with no shingles (shorter than 3 tokens) are excluded.
    */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String): DataFrame =
    contaminationScoresFromShingles(
      shingleTable(corpus, idCol, textCol, ContaminationShingleN),
      shingleTable(benchmark, idCol, textCol, ContaminationShingleN), idCol)

  /** The shingle width of both decontamination checks: 3-token n-grams. */
  private val ContaminationShingleN = 3

  /** [[contaminationScores]] over prebuilt (id, shingle) tables — for
    * pipelines that build the shingle table once for several consumers.
    */
  def contaminationScoresFromShingles(corpusSh: DataFrame, benchmarkSh: DataFrame,
                                      idCol: String): DataFrame = {
    val benchSh = benchmarkSh.select(col("shingle")).distinct()
    corpusSh
      .join(broadcast(benchSh).withColumn("_hit", lit(1)), Seq("shingle"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("_hit"), lit(0))).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
  }

  /** Incremental near-dedup — the daily-batch shape: pair each INCOMING
    * doc against the HISTORICAL corpus without ever re-pairing history
    * against itself. Candidates come from a band-bucket equi-join of the
    * two sides' LSH bucket tables (history × incoming, never a self-join),
    * then the exact Jaccard verify runs over shingle tables PRUNED to the
    * candidate doc ids — so per batch the full history contributes one
    * signature pass plus only its matched docs' shingles. In production
    * the history side's signature/bucket table is the persisted fingerprint
    * store (build it once with [[minhashSignatures]]/[[lshBuckets]] and
    * append each accepted batch); this entry point takes raw docs so the
    * whole chain stays one declarative plan. Output: (doc_new, doc_old,
    * jac) for every incoming doc near-duplicating a history doc —
    * `applyIncrementalDedup` turns it into the filtered batch.
    *
    * Ids must be unique ACROSS the two sides (the verify reads one unioned
    * shingle table) — true for any sane ingestion ledger; violations would
    * silently merge two docs' shingle sets.
    */
  def incrementalNearDupPairs(history: DataFrame, incoming: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double = 0.5,
                              maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // each side's shingle table feeds its signature pass AND the verify
    // union — persist both (the production form reads the history side's
    // signatures from the persisted fingerprint store instead)
    val shOld = shingleTable(history, idCol, textCol, MinhashShingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shNew = shingleTable(incoming, idCol, textCol, MinhashShingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigOld = minhashSignatures(shOld, idCol)
    val sigNew = minhashSignatures(shNew, idCol)
    // the width cap applies PER SIDE before the cross-side join (a
    // boilerplate bucket of width B_new × B_old explodes multiplicatively
    // — the same quadratic corner as the self-join families, and this
    // parameter used to be accepted but silently never applied)
    val bOld = capBuckets(lshBuckets(sigOld, idCol),
        Seq("band", "bucket"), maxBucketSize)
      .select(col("band"), col("bucket"), col(idCol).as("doc_old"))
    val bNew = capBuckets(lshBuckets(sigNew, idCol),
        Seq("band", "bucket"), maxBucketSize)
      .select(col("band"), col("bucket"), col(idCol).as("doc_new"))
    // both bucket tables are corpus-sized derivations — merge-hinted for
    // the same reason as lshCandidatePairsCapped (broadcast is wrong at scale)
    val cand = bNew.join(bOld.hint("merge"), Seq("band", "bucket"))
      .select("doc_new", "doc_old").distinct()
    // verify over both sides' shingles: rename to the jaccardVerify pair
    // contract (doc_a = new side, doc_b = old side); sizes ride inside the
    // verify's per-doc sets. Each side's shingle table is SEMI-JOIN PRUNED
    // to its candidate ids FIRST — the docstring's contract: without it
    // the verify's collect_set aggregates the FULL history shingle table
    // every batch, the history-scale shuffle this operator exists to avoid
    val pairs = cand.select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b"))
    val shPruned = shNew.join(pairs.select(col("doc_a").as(idCol)).distinct().hint("merge"),
        Seq(idCol), "left_semi")
      .union(shOld.join(pairs.select(col("doc_b").as(idCol)).distinct().hint("merge"),
        Seq(idCol), "left_semi"))
    jaccardVerify(pairs, shPruned, idCol, threshold)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"), col("jac"))
  }

  /** The incremental dedup decision: drop every incoming doc with any
    * near-dup in history (one anti-join on the incoming id).
    */
  def applyIncrementalDedup(incoming: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    incoming.join(pairs.select(col("doc_new").as(idCol)), Seq(idCol), "left_anti")

  /** EXACT contamination scores at beyond-broadcast benchmark scale: the
    * benchmark shingle set collapses to a driver-built Bloom filter (~14
    * bits per distinct shingle at a 0.1% fpp, a 10-50× smaller
    * broadcast than the strings), probed map-side, followed by an exact
    * verify join that kills its false positives — the production
    * decontamination shape. One pass over the corpus shingle stream
    * computes, per doc, the total shingle count AND the (tiny) list of
    * Bloom-flagged shingles in the same aggregation; only that flagged
    * sliver — true hits plus an fpp fraction of the rest — is then
    * re-exploded and joined against the true benchmark shingle set. The
    * corpus-sized table is never joined and never shuffled by shingle: the
    * only corpus-wide exchange is the per-doc aggregation (map-side
    * partial), and the verify join's left side is |contaminated| +
    * fpp·|corpus| rows. Output is IDENTICAL to [[contaminationScores]] —
    * `(idCol, n_shingles, n_contaminated, contamination)` — the sketch
    * only accelerates, it no longer appears in the answer, so the result
    * is deterministic and oracle-checkable.
    *
    * The per-doc flagged buffer in `collect_list` is bounded by the doc's
    * own distinct-shingle count (a fully-contaminated doc holds its whole
    * shingle set once), i.e. by document length — not by corpus size.
    */
  def contaminationScoresBloomVerified(corpus: DataFrame, benchmark: DataFrame,
                                       idCol: String, textCol: String): DataFrame = {
    val spark = corpus.sparkSession
    // persisted: the bloomFilter's sizing count and build scan it AND the
    // returned plan's verify join re-reads it per action
    val benchSh = shingleTable(benchmark, idCol, textCol, ContaminationShingleN)
      .select(col("shingle")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bf = benchSh.stat.bloomFilter("shingle", math.max(1L, benchSh.count()), 0.001)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((s: String) => s != null && bfB.value.mightContainString(s))
    val perDoc = shingleTable(corpus, idCol, textCol, ContaminationShingleN)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        // collect_list drops nulls: only Bloom-flagged shingles survive
        collect_list(when(mightContain(col("shingle")), col("shingle"))).as("_flagged"))
    // explode_outer keeps zero-flag docs (null shingle → no verify hit)
    val verified = perDoc
      .select(col(idCol), col("n_shingles"), explode_outer(col("_flagged")).as("shingle"))
      .join(benchSh.withColumn("_hit", lit(1L)).hint("merge"), Seq("shingle"), "left")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
      .select(col(idCol), col("n_shingles"), col("n_contaminated"), col("contamination"))
    // benchSh stays persisted: the RETURNED plan's verify join reads it, so
    // an eager unpersist here would recompute the benchmark shingle table
    // on every downstream action. NOTE the cache entry outlives the
    // returned frame's use — persist() holds CacheManager state until an
    // explicit unpersist/clearCache, NOT until the reference drops; the
    // bench harness clearCache()s per query, and a long-lived service
    // calling this per batch must clear likewise or the per-call caches
    // accumulate for the session lifetime.
    verified
  }

  /** The final dedup decision: drop every clustered doc except its cluster
    * representative; docs in no pair pass through untouched (each is its
    * own cluster). One anti-join on the id — the complete near-dedup chain
    * is `pairs → dedupClusters → applyClusterDedup`.
    */
  def applyClusterDedup(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.where(col("doc_id") =!= col("cluster_rep")).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
}
