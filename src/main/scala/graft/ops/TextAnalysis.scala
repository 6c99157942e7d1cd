package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (north star: language ID,
  * quality scoring, token counting, fingerprinting). All pure column
  * expressions over `documents.text` — they stay in whole-stage codegen and
  * scale linearly with no shuffle until the final aggregate.
  */
object TextAnalysis {

  /** Whitespace tokenization with empty tokens removed (leading whitespace
    * would otherwise yield a "" token; the DuckDB oracle filters the same
    * way).
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Token count without materializing the array when only the count is needed. */
  /** NULL text → NULL count: with ANSI off (Prep.ensure), `size(null)` is
    * the legacy −1, which would silently skew any token-count sum negative.
    */
  def tokenCount(text: Column): Column = when(text.isNotNull, size(tokens(text)))

  /** BPE-ish subword pre-tokenization (GPT-2-style split simplified to what
    * RE2 also supports — no lookahead, ASCII classes): a token is an
    * optionally-space-prefixed letter run, digit run, or punctuation run.
    * Counts approximate byte-pair-encoder token counts well enough for
    * corpus budgeting.
    */
  val bpeSplitPattern: String = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"

  def bpeTokens(text: Column): Column = regexp_extract_all(text, lit(bpeSplitPattern), lit(0))

  /** NULL text → NULL count, same guard as [[tokenCount]]: unguarded,
    * `size(regexp_extract_all(NULL))` is the legacy −1 under ANSI-off and
    * silently deflates token-budget sums.
    */
  def bpeTokenCount(text: Column): Column = when(text.isNotNull, size(bpeTokens(text)))

  /** Adjacent-token bigrams of a token array: size-1 entries joined with a
    * single space; empty for <2 tokens. Thin alias of the single shared
    * gram-builder ([[Dedup.gramsFromTokens]] — the one-pass shifted-zip
    * kernel and its oracle contract live there).
    */
  def bigrams(toks: Column): Column = Dedup.gramsFromTokens(toks, 2)

  /** Bigram language-model corpus statistics per document — the
    * memorization/boilerplate signal one step up from
    * [[unigramFreqScore]]: how common are this document's token
    * TRANSITIONS across the corpus. High mean bigram frequency flags
    * templated/boilerplate text; a high novel-bigram count flags text no
    * other document shares (both are standard pretraining-curation axes).
    * All counts are exact integers; the single mean is one correctly-
    * rounded double division — hash-portable with no float reasoning.
    *
    * Scale shape: tokenize+explode is a linear scan; the bigram count
    * table is vocab-sized (≪ corpus rows but corpus-scale in the worst
    * case, so the join back is UNHINTED — AQE broadcasts a small
    * vocabulary and sort-merges a web-scale one); the per-doc aggregate
    * is map-side combined on doc_id. Documents with <2 tokens have no
    * bigrams and no output row, mirroring the SQL GROUP BY.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // persisted: bg feeds BOTH the corpus-wide counts and the join-back
    // probe side — unpersisted, the tokenize+explode of the whole corpus
    // (the heaviest stage) would run twice per action (the docSurprisal
    // discipline; freed by the harness clearCache / caller unpersist)
    val bg = docs.select(col(idCol),
      explode(bigrams(tokens(col(textCol)))).as("bigram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
    bg.join(counts, "bigram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("cnt")).as("sum_bigram_cnt"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_novel_bigrams"))
      .withColumn("avg_bigram_freq",
        col("sum_bigram_cnt").cast("double") / col("n_bigrams").cast("double"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) — deg = Σ phrase-length over the word's phrase
    * occurrences, freq = its occurrence count (both exact integers,
    * counted WITH multiplicity over all phrase instances, per the
    * paper) — and a phrase scores the sum of its words' scores. The
    * division is quantized to integer millionths (`deg·10⁶ div freq`,
    * the floor(v·10⁶) float discipline) so phrase scores are exact
    * integer SUMS — no float accumulation order anywhere.
    *
    * The phrase splitter is an RE2-class regex (no lookarounds — the
    * oracle-portability contract): runs of stopwords between whitespace
    * collapse into one delimiter; leading/trailing stopwords trim.
    *
    * Scale: two linear explode passes + one vocabulary-sized word-score
    * join (unhinted, the [[bigramLmScore]] posture) + a TakeOrdered
    * head. Output: (phrase, n_words, n_occ, score_micro) top-k.
    */
  def rakeKeywords(docs: DataFrame, textCol: String, stopwords: Seq[String],
                   topK: Int = 100): DataFrame = {
    require(stopwords.nonEmpty)
    // plain alternation (no \Q quoting) so the IDENTICAL pattern string
    // mirrors into the RE2 oracle — hence the word-char restriction
    require(stopwords.forall(_.matches("[A-Za-z0-9]+")),
      "stopwords must be plain word tokens (the regex mirrors into SQL verbatim)")
    val sw = stopwords.mkString("|")
    // split ONLY on stopword runs (whitespace-delimited, padded so edge
    // stopwords form runs too), then tokenize each surviving piece
    val splitPat = s"(?:\\s+(?:$sw))+\\s+"
    val padded = concat(lit(" "), col(textCol), lit(" "))
    val phrases0 = docs
      .select(explode(split(padded, splitPat)).as("_raw"))
      .select(trim(regexp_replace(col("_raw"), "\\s+", " ")).as("phrase"))
      .where(length(col("phrase")) > 0)
    // a document that ENDS with a stopword leaves it attached to the last
    // piece (no trailing delimiter to consume it): strip edge stopwords
    val phrases = phrases0
      .select(regexp_replace(regexp_replace(col("phrase"),
        s"^(?:(?:$sw) )+", ""), s"( (?:$sw))+$$", "").as("phrase"))
      .where(length(col("phrase")) > 0)
    val inst = phrases.select(col("phrase"),
      size(split(col("phrase"), " ")).cast("long").as("n_words"))
    val words = inst.select(explode(split(col("phrase"), " ")).as("w"),
      col("n_words"))
    val wscore = words.groupBy(col("w"))
      .agg(sum(col("n_words")).as("_deg"), count(lit(1)).as("_freq"))
      .select(col("w").as("_sw_w"),
        expr("(_deg * 1000000) div _freq").as("_score_micro"))
    val distinctPhr = inst.groupBy(col("phrase"))
      .agg(first(col("n_words")).as("n_words"), count(lit(1)).as("n_occ"))
    distinctPhr
      .select(col("phrase"), col("n_words"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("_pw"))
      .join(wscore, col("_pw") === col("_sw_w"))
      .groupBy(col("phrase"))
      .agg(first(col("n_words")).as("n_words"), first(col("n_occ")).as("n_occ"),
        sum(col("_score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topK)
  }

  /** Collocation mining (phrase extraction): rank corpus bigrams by
    * LIFT = p(a,b) / (p(a)·p(b)) — the association strength behind PMI
    * without the log (same ordering; the log is monotone) — with a
    * minimum-support cut and a bounded top-k head. Counts (c_ab, c_a,
    * c_b) are exact integers; lift is a deterministic float SCORE
    * (identical multiply/divide tree both engines — a ranking key, not a
    * sum, so no accumulation-order hazard).
    *
    * Scale: tokenize+explode linear scans; bigram→unigram joins are
    * UNHINTED over vocabulary-sized tables (the [[bigramLmScore]]
    * posture: AQE broadcasts a small vocabulary, sort-merges a web-scale
    * one); the two corpus totals attach as 1-row broadcasts; the top-k
    * head is a TakeOrdered — never a full-result sort to the driver.
    */
  def collocationsByLift(docs: DataFrame, textCol: String,
                         minSupport: Long = 10L, topK: Int = 200): DataFrame = {
    val tk = docs.select(tokens(col(textCol)).as("toks"))
    val uc = tk.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uc.agg(sum(col("c")).as("_n"))
    val bc = tk.select(explode(Dedup.gramsFromTokens(col("toks"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val bTot = bc.agg(sum(col("c_ab")).as("_b"))
    val ua = uc.select(col("w").as("_wa"), col("c").as("c_a"))
    val ub = uc.select(col("w").as("_wb"), col("c").as("c_b"))
    bc.where(col("c_ab") >= minSupport)
      .join(ua, split(col("bigram"), " ").getItem(0) === col("_wa"))
      .join(ub, split(col("bigram"), " ").getItem(1) === col("_wb"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(bTot))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab").cast("double") * col("_n").cast("double") * col("_n").cast("double") /
          (col("_b").cast("double") * col("c_a").cast("double") * col("c_b").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(topK)
  }

  /** C4/Gopher-style quality-rule battery (Raffel et al. 2020; Rae et al.
    * 2021) in ONE linear pass: line-structure ratios (terminal
    * punctuation, bullets, ellipses, too-short lines), word-shape ratios
    * (mean word length, alphabetic-word fraction), and the two composite
    * pass flags a curation pipeline filters on. Counts are exact integers
    * and the flags compare integers cross-multiplied (never a float
    * threshold), so every column is hash-portable. No shuffle at all —
    * callers aggregate or filter downstream.
    */
  def c4Filters(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val toks = tokens(col(textCol))
    val nLines = size(lines)
    val nWords = size(toks)
    def nLinesWhere(p: Column => Column) = size(filter(lines, p))
    val endPunct = nLinesWhere(l => l.rlike("[.!?\"]$"))
    val bullet = nLinesWhere(l => l.rlike("^[-*•] "))
    val ellipsis = nLinesWhere(l => l.rlike("(\\.\\.\\.|…)$"))
    val shortLines = nLinesWhere(l => size(filter(split(l, "\\s+"), w => length(w) > 0)) < 3)
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]")))
    val wordChars = aggregate(toks, lit(0), (acc, w) => acc + length(w))
    // NULL text → NULL metrics (the tokenCount discipline at the top of
    // this file): with ANSI off, size(null) is the legacy -1, which would
    // silently skew any downstream sum/mean over the count columns
    def g(c: Column) = when(col(textCol).isNotNull, c)
    docs.select(col(idCol),
      g(nLines).as("n_lines"), g(nWords).as("n_words"),
      g(endPunct).as("n_end_punct_lines"), g(bullet).as("n_bullet_lines"),
      g(ellipsis).as("n_ellipsis_lines"), g(shortLines).as("n_short_lines"),
      g(alphaWords).as("n_alpha_words"),
      g(when(nWords > 0, wordChars.cast("double") / nWords.cast("double"))
        .otherwise(lit(0.0))).as("mean_word_len"),
      // Gopher rules: >=50 words, mean word length in [3,10], <=90% bullet
      // lines, <=30% ellipsis lines, >=80% alphabetic words
      g(nWords >= 50 && wordChars >= nWords * 3 && wordChars <= nWords * 10 &&
        bullet * 10 <= nLines * 9 && ellipsis * 10 <= nLines * 3 &&
        alphaWords * 10 >= nWords * 8).as("gopher_pass"),
      // C4's structural rule: most lines end in terminal punctuation
      g(endPunct * 2 >= nLines).as("c4_terminal_punct_pass"))
  }

  /** [[c4Filters]] as ONE fused character-scan kernel
    * ([[graft.functions.C4StatsKernel]]) instead of six interpreted
    * regex/HOF passes per document — the WinnowMd5Expr treatment applied to
    * the suite's heaviest linear scan (~8 s → target <4 s at sf0.1).
    * Output is BIT-IDENTICAL to [[c4Filters]] (schema included: counts
    * int, mean double, flags boolean, NULL text → NULL row) — the
    * equivalence is property-tested in TextPipelineSpec, so [[c4Filters]]
    * stays as the executable specification and the DuckDB oracle keeps
    * matching.
    */
  def c4FiltersFast(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.C4Ops.c4Stats(col(textCol))
    // cast to int to reproduce the expression form's size()/aggregate(lit(0))
    // Integer types exactly
    def el(i: Int) = col("_c4").getItem(i).cast("int")
    val nLines = el(0); val nWords = el(1); val endPunct = el(2)
    val bullet = el(3); val ellipsis = el(4); val shortLines = el(5)
    val alphaWords = el(6); val wordChars = el(7)
    def g(c: Column) = when(col(textCol).isNotNull, c)
    docs.withColumn("_c4", st).select(col(idCol),
      g(nLines).as("n_lines"), g(nWords).as("n_words"),
      g(endPunct).as("n_end_punct_lines"), g(bullet).as("n_bullet_lines"),
      g(ellipsis).as("n_ellipsis_lines"), g(shortLines).as("n_short_lines"),
      g(alphaWords).as("n_alpha_words"),
      g(when(nWords > 0, wordChars.cast("double") / nWords.cast("double"))
        .otherwise(lit(0.0))).as("mean_word_len"),
      g(nWords >= 50 && wordChars >= nWords * 3 && wordChars <= nWords * 10 &&
        bullet * 10 <= nLines * 9 && ellipsis * 10 <= nLines * 3 &&
        alphaWords * 10 >= nWords * 8).as("gopher_pass"),
      g(endPunct * 2 >= nLines).as("c4_terminal_punct_pass"))
  }

  /** Deterministic document fingerprint: md5 of normalized text (lowercase,
    * punctuation stripped, whitespace collapsed). The basis for exact
    * near-normalization dedup.
    */
  def fingerprint(text: Column): Column =
    md5(normalize(text))

  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Winnowing (rolling k-gram) fingerprints: hash every k-char gram, then
    * keep the minimum hash of each w-wide window (k = 8, w = 4) — the
    * standard local document fingerprint (Schleimer et al.'s winnowing)
    * that is robust to insertions/reordering, unlike a whole-document
    * digest. Each gram hash is `substring(md5(gram), 1, 8)`, evaluated
    * by the one-pass kernel [[graft.functions.WinnowMd5Kernel]]. Emits
    * (idCol, fp: string) rows for docs of length >= k+w-1.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.WinnowOps.winnowMd5(col(textCol), WinnowK, WinnowW)).as("fp"))

  private val WinnowK = 8
  private val WinnowW = 4

  /** The same md5 winnowing as a pure built-in-expression pipeline — kept as
    * the executable SPECIFICATION for [[winnowFingerprints]]'s kernel (the
    * equivalence is property-tested; the kernel exists because interpreted
    * HOF lambdas made this form ~4× slower at identical output). Two
    * chained projections so the gram-hash array materializes once before
    * the window lambda reads it.
    */
  def winnowFingerprintsExpr(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (k, w) = (WinnowK, WinnowW)
    val text = col(textCol)
    docs.where(length(text) >= k + w - 1)
      .select(col(idCol),
        transform(sequence(lit(1), length(text) - (k - 1)),
          i => substring(md5(text.substr(i, lit(k))), 1, 8)).as("_hashes"))
      .select(col(idCol),
        explode(array_distinct(transform(sequence(lit(1), size(col("_hashes")) - (w - 1)),
          j => array_min(slice(col("_hashes"), j, lit(w)))))).as("fp"))
  }

  /** Token-window chunking with overlap — the unit-of-training-example
    * splitter every LLM data pipeline needs. Chunk i covers tokens
    * [1 + i·stride, 1 + i·stride + chunkTokens); the final chunks are
    * shorter. One tokenize, one posexplode — linear, no shuffle.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, stride: Int): DataFrame =
    chunkFromTokens(docs.select(col(idCol), tokens(col(textCol)).as("_toks")),
      idCol, "_toks", chunkTokens, stride)

  /** [[chunkByTokens]] over an already-materialized token-array column. */
  def chunkFromTokens(df: DataFrame, idCol: String, toksCol: String,
                      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "stride must be in (0, chunkTokens] so chunks cover every token")
    df.select(col(idCol), col(toksCol).as("_toks"))
      .where(size(col("_toks")) > 0)
      .select(col(idCol), col("_toks"),
        posexplode(sequence(lit(1), size(col("_toks")), lit(stride))).as(Seq("chunk_no", "_start")))
      .select(col(idCol), col("chunk_no").cast("int").as("chunk_no"),
        size(slice(col("_toks"), col("_start"), lit(chunkTokens))).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("_toks"), col("_start"), lit(chunkTokens))).as("chunk_text"))
  }

  /** GPT-style sequence packing, shard-parallel: within a shard, documents'
    * tokens are laid head to tail in a deterministic order and the training
    * sequences are the consecutive `seqLen`-token windows of that layout —
    * documents cross sequence boundaries (the standard concat-then-split
    * packing; no padding waste). Emits, per row: its starting token offset
    * in the shard layout, the pack (sequence) id its first token lands in,
    * and the offset within that pack.
    *
    * The running total is a window sum PARTITIONED BY the shard — per-shard
    * work is sequential by nature (each offset depends on every predecessor)
    * but shards pack independently, which is exactly how a 100-TB corpus is
    * laid out anyway (per-source/per-shard files). An unsharded global
    * packing would serialize the whole corpus through one partition: always
    * pass a real shard column.
    *
    * `order` MUST totally order the rows within every shard (i.e. include a
    * unique key such as the doc id as its last column): a window sum over
    * tied rows is partition-order dependent, so with a non-unique `order`
    * the emitted offsets silently vary run to run — breaking the
    * hash-checkable-end-to-end property this operator is built for.
    */
  def packSequences(df: DataFrame, shard: Column, order: Seq[Column],
                    tokensCol: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shard).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("start_off", coalesce(sum(tokensCol.cast("long")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("start_off") / lit(seqLen)).cast("long"))
      .withColumn("pack_off", pmod(col("start_off"), lit(seqLen.toLong)))
  }

  /** Inverted-index head: for the top-`k` tokens by document frequency,
    * the IR-serving triple (df, cf, posting-list prefix of the first
    * `postingN` doc ids). The posting prefix is deliberately NOT a
    * per-token `collect_list` of the full posting list — head tokens
    * appear in nearly every document, so that buffer is corpus-sized; a
    * per-token window `row_number ≤ postingN` over the distinct
    * (token, doc) pairs bounds what reaches the collect to `postingN`
    * rows per token. Top-k selection is TakeOrderedAndProject over the
    * vocabulary (per-partition top-k, no global sort), and the postings
    * pass joins the pairs against the broadcast k-row head.
    */
  def invertedIndexHead(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, postingN: Int): DataFrame = {
    // persisted: td feeds the head selection AND the postings join, and
    // `top` itself is consumed twice (postings filter + final join) — the
    // corpus would otherwise tokenize three times per action (the
    // docSurprisal discipline; freed by harness clearCache / caller)
    val td = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = td.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .orderBy(col("df").desc, col("token")).limit(k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("doc_id"))
    val postings = td.join(broadcast(top.select(col("token"))), Seq("token"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= postingN)
      .groupBy(col("token"))
      .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
        x => x.cast("string")), ",").as("postings"))
    top.join(postings, Seq("token"))
      .select(col("token"), col("df"), col("cf"), col("postings"))
  }

  /** Length-bucketed batching audit — the padding accountant for training
    * batch assembly: each sequence goes to the SMALLEST cap in `caps`
    * that holds it (longer sequences take the largest cap — upstream
    * truncation, so the excess is not padding), and per bucket the audit
    * reports how many pad tokens a fixed-shape batcher would emit
    * (cap·n − Σ effective len). Compared against the one-bucket baseline
    * (everything padded to the max cap) this quantifies what length
    * bucketing saves — the standard compute-efficiency lever for
    * variable-length corpora. Pure projection (a CASE chain over the
    * bounded cap list) + one map-side-combined agg with ≤|caps| groups:
    * no sort, no window, no per-sequence state at any corpus size.
    */
  def lengthBucketPadding(df: DataFrame, lenCol: Column, caps: Seq[Int]): DataFrame = {
    require(caps.nonEmpty && caps == caps.sorted && caps.distinct == caps,
      "caps must be strictly increasing")
    val maxCap = caps.last
    val capCol = caps.init.reverse.foldLeft(lit(maxCap)) { (acc, c) =>
      when(lenCol <= c, lit(c)).otherwise(acc)
    }
    df.select(capCol.as("bucket_cap"), least(lenCol, lit(maxCap)).as("eff_len"))
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("eff_len").cast("long")).as("sum_len"))
      .withColumn("padded", col("bucket_cap") * col("n_seqs") - col("sum_len"))
  }

  /** Corpus vocabulary head: the top-k tokens by occurrence count, with
    * rank and the cumulative share of ALL token occurrences the head covers
    * — the curve a tokenizer-vocab or stopword-list decision reads.
    *
    * Scale shape: the token count is one hash aggregation (map-side
    * partial); the top-k is `TakeOrderedAndProject` (per-partition top-k,
    * merged on the driver — never a global sort of the vocabulary); the
    * rank/cumulative window then runs over the k SURVIVORS only, so its
    * single-partition ordering is over k rows by construction, never the
    * corpus. The one-row total joins in as a broadcast.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // the count table feeds two consumers (top-k and the corpus total);
    // persisted so the corpus is tokenized + aggregated once, not twice.
    // Vocab-sized (bounded), but still cached for the session: callers in a
    // long-lived session release it via unpersist/clearCache.
    val counts = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = counts.agg(sum(col("cnt")).as("_total"))
    val ord = w.orderBy(col("cnt").desc, col("token").asc)
    counts.orderBy(col("cnt").desc, col("token").asc).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord).cast("int"))
      .withColumn("cum_frac",
        sum(col("cnt")).over(ord.rowsBetween(w.unboundedPreceding, w.currentRow)).cast("double")
          / col("_total").cast("double"))
      .select(col("rank"), col("token"), col("cnt"), col("cum_frac"))
  }

  /** Per-document out-of-vocabulary fraction against the corpus's own
    * top-`vocabK` vocabulary — the classic "gibberish / wrong-tokenizer"
    * quality signal (high OOV share → boilerplate, code, mojibake, or the
    * wrong language for the vocab). The vocabulary is top-k by
    * construction, so it broadcasts no matter the corpus size; the probe
    * side is one linear pass over the exploded tokens with map-side
    * partial aggregation per doc. Docs with no tokens have no rows.
    */
  def oovFraction(docs: DataFrame, idCol: String, textCol: String, vocabK: Int): DataFrame = {
    // exploded tokens feed the vocab build AND the probe side - persist so
    // the corpus tokenizes once (cache lifetime: see vocabCoverage note)
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(vocabK)
      .select(col("token"))
    tok.join(broadcast(vocab).withColumn("_in", lit(1)), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** PII patterns — RE2-class regexes (no lookahead) so the same definition
    * runs in Spark, DuckDB, and RE2-based scanners.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern: String = "https?://[^\\s]+"
  val phonePattern: String = "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"

  /** Redact emails/URLs/phones with typed placeholder tokens. URL first so
    * an address inside a URL is not double-matched.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlPattern, "<URL>"),
        emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Per-kind PII hit counts over the ORIGINAL text (counts may overlap).
    * NULL text → NULL counts (the tokenCount discipline: under ANSI-off
    * `size(null)` is the legacy -1, which would silently deflate every
    * downstream sum and pass "pii > 0" filters backwards).
    */
  def piiCounts(text: Column): (Column, Column, Column) = (
    when(text.isNotNull, size(regexp_extract_all(text, lit(emailPattern), lit(0)))),
    when(text.isNotNull, size(regexp_extract_all(text, lit(urlPattern), lit(0)))),
    when(text.isNotNull, size(regexp_extract_all(text, lit(phonePattern), lit(0)))))

  /** Per-doc top-k terms by the EXACT ratio-idf ranking tf/(df+1)
    * (descending, token asc ties): one IEEE division of exact integers,
    * so both engines round it identically — a float `tf·ln((N+1)/(df+1))`
    * score would hash-flake on libm last-ulp differences. The ratio IS
    * monotone in the tf·idf TRADE-OFF (idf strictly decreasing in df):
    * the previous (tf desc, df asc) lexicographic rank only consulted df
    * on tf ties, so a tf=3 boilerplate term (df ≈ N) outranked a tf=2
    * rare term — the opposite of what "top TF-IDF terms" promises.
    * Log-idf reranking (which compresses the df axis but orders the same
    * way for fixed tf) is the documented float-discipline trade.
    *
    * Shuffle shape at scale: explode → (doc,term) count (map-side partial),
    * term df (partial agg, auto-broadcast when vocab is small), one window
    * over the doc's own terms — all linear in token count.
    */
  def topTermsByTfidf(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy((col("tf").cast("double") / (col("df") + 1)).desc, col("token").asc)
    // df is vocabulary-sized — unbounded at corpus scale, so sort-merge
    // (see unigramFreqScore for the static-estimator/broadcast-job trap)
    tf.join(df.hint("merge"), "token")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"))
  }

  /** Repetition signals (Gopher-style quality rules) over token bigrams,
    * keeping DUPLICATE occurrences (unlike the dedup shingle table):
    * `dup_frac` = fraction of n-gram occurrences that repeat an earlier one,
    * `top_frac` = occurrence share of the single most frequent n-gram.
    * Degenerate docs (fewer than 2 tokens) are excluded. One explode + two
    * aggregations, both with map-side partials — linear.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    repetitionSignalsFromTokens(
      docs.select(col(idCol), tokens(col(textCol)).as("_toks")), idCol, "_toks")

  /** [[repetitionSignals]] over an already-materialized token-array column. */
  def repetitionSignalsFromTokens(df: DataFrame, idCol: String, toksCol: String): DataFrame = {
    val n = 2
    val grams = df
      .where(size(col(toksCol)) >= n)
      .select(col(idCol), explode(Dedup.gramsFromTokens(col(toksCol), n)).as("gram"))
    grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("_cnt"))
      .groupBy(col(idCol)).agg(
        sum(col("_cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("_cnt")).as("_top"))
      .select(col(idCol), col("n_grams"), col("n_distinct"),
        ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams").cast("double")).as("dup_frac"),
        (col("_top").cast("double") / col("n_grams").cast("double")).as("top_frac"))
  }

  /** Cross-document repeated-substring detection — the window-hash form of
    * exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499, which uses suffix
    * arrays; a distributed engine gets the same signal from rolling k-token
    * windows). A window is *duplicated* when its exact token sequence occurs
    * more than once anywhere in the corpus (other docs or elsewhere in the
    * same doc). Per doc: total windows, duplicated windows, the first
    * duplicated window's 1-based token position (0 when none), and the
    * duplicated fraction — the inputs to a cut-the-span or drop-the-doc
    * policy. Docs shorter than `windowTokens` have no windows and are
    * excluded.
    *
    * Scale: one explode (linear), one groupBy(window) with map-side
    * partials, one equi-join back — the same shuffle budget as the shingle
    * pipeline; never quadratic. The corpus-wide window-count table is the
    * only wide intermediate and it shrinks under aggregation.
    *
    * Cache lifetime: the window table persists (two consumers) until the
    * caller unpersists/clearCaches — long-lived sessions issuing many
    * passes should release promptly (same contract as the shingle table
    * in minhashNearDupPairs).
    */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
                        windowTokens: Int = 8): DataFrame = {
    require(windowTokens >= 1)
    val wins = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        posexplode(Dedup.gramsFromTokens(col("_toks"), windowTokens)).as(Seq("_p0", "w")))
      .select(col(idCol), (col("_p0") + 1).cast("int").as("pos"), col("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winCounts = wins.groupBy(col("w")).agg(count(lit(1)).as("_cnt"))
    // window table × window counts: both corpus-sized — sort-merge, never
    // a broadcast (the small-SF static estimator would otherwise build one
    // and pay a driver job for a join shape that dies at 100 TB)
    wins.join(winCounts.hint("merge"), Seq("w"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("_cnt") > 1, 1L).otherwise(0L)).as("n_dup_windows"),
        min(when(col("_cnt") > 1, col("pos"))).as("_first"))
      .select(col(idCol), col("n_windows"), col("n_dup_windows"),
        coalesce(col("_first"), lit(0)).cast("int").as("first_dup_pos"),
        (col("n_dup_windows").cast("double") / col("n_windows").cast("double")).as("dup_frac"))
  }

  /** Per-document n-gram NOVELTY against the stream so far: the fraction
    * of a doc's distinct shingles whose FIRST occurrence (by ascending
    * `idCol` — ingestion order) is this doc. The diminishing-returns
    * diagnostic a growing corpus needs: as a crawl saturates, per-batch
    * novelty decays toward 0, and "stop paying for this source" is a
    * threshold on exactly this number — corpus-redundancy growth measured
    * where dedup only sees pairwise similarity.
    *
    * One linear pass: distinct (doc, shingle) explode → min(doc) per
    * shingle (partial-aggregated — per-shingle state is one long) →
    * join-back on the shingle key → per-doc census. Novelty is an integer
    * millionths ratio (exact in any partition order). Docs shorter than
    * the shingle width (3 tokens) emit n_shingles = 0 with NULL novelty.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = Dedup.shingleTable(docs, idCol, textCol, 3)
    val first = sh.groupBy(col("shingle")).agg(min(col(idCol)).as("_first"))
    val census = sh.join(first.hint("shuffle_hash"), Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
    // two selects: the ratio must reference the COALESCED counts, and a
    // same-select alias shadowing the joined column is exactly the lateral-
    // column-alias ambiguity the emb_srp_recall debug run uncovered
    docs.select(col(idCol))
      .join(census, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_millionths",
        expr("CAST(CASE WHEN n_shingles > 0 THEN 1000000 * n_novel div n_shingles END AS BIGINT)"))
  }

  /** The APPLY half of exact substring dedup: remove every duplicated
    * k-token window occurrence except the globally-first one, and rebuild
    * each document's text from the surviving tokens. "First" is the minimum
    * (doc id, position) occurrence, encoded as the integer
    * `id·maxDocTokens + pos` so both engines order occurrences identically
    * (requires a numeric id and docs shorter than `maxDocTokens` = 10⁵). The
    * policy is greedy: a removed occurrence blanks ALL k of its token
    * positions, even where they overlap a kept occurrence — deterministic
    * and engine-mirrorable, which is what a reproducible corpus cut needs.
    *
    * Scale: windows explode linearly; the first-occurrence table is one
    * groupBy(window) with map-side partials; covered positions explode k×
    * the (small) removed set; the rebuild is one per-doc ordered collect —
    * group-bounded (a doc's own tokens), never corpus-bounded.
    */
  def removeDupWindowSpans(docs: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int = 8): DataFrame = {
    require(windowTokens >= 1)
    val maxDocTokens = 100000L
    // the occ-key encoding is only injective under the documented bounds;
    // violating them would silently cut the WRONG spans (and both engines
    // would agree, so the oracle could not catch it) - fail loudly in-plan
    val guarded = when(col(idCol) < 0,
        raise_error(concat(lit("removeDupWindowSpans: negative id "), col(idCol))))
      .when(col(idCol).cast("long") >= Long.MaxValue / maxDocTokens,
        raise_error(concat(lit("removeDupWindowSpans: id "), col(idCol),
          lit(s" would overflow the id*$maxDocTokens occurrence key — re-key ids below " +
            s"${Long.MaxValue / maxDocTokens}"))))
      .when(size(col("_t")) >= maxDocTokens,
        raise_error(concat(lit(s"removeDupWindowSpans: doc of "), size(col("_t")),
          lit(s" tokens exceeds maxDocTokens=$maxDocTokens"))))
      .otherwise(col("_t"))
    val base = docs.select(col(idCol), tokens(col(textCol)).as("_t"))
      .select(col(idCol), guarded.as("_toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occKey = col(idCol) * maxDocTokens + col("pos")
    val wins = base
      .select(col(idCol),
        posexplode(Dedup.gramsFromTokens(col("_toks"), windowTokens)).as(Seq("_p0", "w")))
      .select(col(idCol), (col("_p0") + 1).cast("int").as("pos"), col("w"))
    val firstOcc = wins.groupBy(col("w")).agg(min(occKey).as("_mk"))
    val removed = wins.join(firstOcc.hint("merge"), Seq("w"))
      .where(occKey =!= col("_mk"))
      .select(col(idCol), col("pos"))
    val covered = removed
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (windowTokens - 1))).as("tokpos"))
      .distinct()
    val tokTbl = base
      .select(col(idCol), posexplode(col("_toks")).as(Seq("_p0", "tok")))
      .select(col(idCol), (col("_p0") + 1).cast("int").as("tokpos"), col("tok"))
    val kept = tokTbl.join(covered.hint("merge"), Seq(idCol, "tokpos"), "left_anti")
    val totals = base.select(col(idCol), size(col("_toks")).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("tokpos"), col("tok")))),
        s => s.getField("tok"))).as("clean_text"))
    totals.join(rebuilt.hint("merge"), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-frequency quality score (the CCNet-family "common-wordness"
    * signal): the mean corpus frequency of a doc's tokens,
    * Σ corpus_cnt(token) / (n_doc_tokens · corpus_total_tokens). Rare-word
    * salad scores low; natural prose built from frequent tokens scores
    * high. Deliberately log-free: every aggregate is an exact integer sum
    * and the only floating point is one multiply + one divide at the end,
    * so the result is bit-identical across engines (a log-prob variant
    * would flake on libm last-ulp differences).
    *
    * Scale: token explode → vocab groupBy (map-side partials; vocab is
    * tiny next to the corpus) → broadcast-join corpus counts back → per-doc
    * aggregation. The corpus-total is a one-row frame cross-joined in, not
    * a driver-side collect.
    */
  def unigramFreqScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnts = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = cnts.agg(sum(col("cnt")).as("_total"))
    // the corpus vocabulary is unbounded (hashes, URLs, typos), so the
    // count table must never broadcast — pinned sort-merge, because the
    // small-SF static estimator would otherwise choose a broadcast that
    // both costs a driver build job and dies at corpus scale
    tok.join(cnts.hint("merge"), Seq("token"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"), col("sum_cnt"),
        (col("sum_cnt").cast("double") /
          (col("n_tokens").cast("double") * col("_total").cast("double")))
          .as("avg_unigram_freq"))
  }

  /** Per-document bigram SURPRISAL score — the LM-based quality signal a
    * training-data pipeline ranks documents by (high mean surprisal =
    * improbable transitions = noise/garble; low = boilerplate): for every
    * bigram occurrence (x,y), the inverse conditional transition
    * probability `1/P(y|x) = n_x / n_xy` in integer MILLIONTHS
    * (`10⁶·n_x div n_xy` — exact, engine-portable; the log-prob
    * perplexity variant would flake on libm last-ulp differences, the
    * [[unigramFreqScore]] lesson applied to transitions). `n_x` counts x
    * as a bigram HEAD (= occurrences of x followed by anything), so every
    * term is ≥ 10⁶ and a doc of pure corpus boilerplate scores exactly
    * 10⁶·(distinct-continuation mass). The per-doc mean is one final
    * IEEE division of exact integers.
    *
    * Scale: one bigram explode (kernel-built grams off a MATERIALIZED
    * token column), two count aggregations over it, two SORT-MERGE joins
    * back (bigram and head vocabularies are unbounded — never
    * broadcast), one per-doc aggregation. Overflow contract: terms are
    * longs, so 10⁶·max(n_x) must stay < 2⁶³ — good to ~9·10¹² occurrences
    * of one head token; beyond that cast the term to DECIMAL first.
    * Output: (id, n_bigrams, mean_surprisal); docs with < 2 tokens have
    * no transitions and drop.
    */
  def docSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= 2)
      .select(col(idCol), explode(Dedup.gramsFromTokens(col("_toks"), 2)).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nXy = occ.groupBy(col("gram")).agg(count(lit(1)).as("n_xy"))
    val nX = occ.groupBy(substring_index(col("gram"), " ", 1).as("_x"))
      .agg(count(lit(1)).as("n_x"))
    occ.join(nXy.hint("merge"), Seq("gram"))
      .withColumn("_x", substring_index(col("gram"), " ", 1))
      .join(nX.hint("merge"), Seq("_x"))
      .withColumn("_t", expr("1000000 * n_x div n_xy"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_t")).as("_s"))
      .select(col(idCol), col("n_bigrams"),
        (col("_s").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_surprisal"))
  }

  /** Interpolated Kneser-Ney bigram probabilities — THE industry-standard
    * n-gram smoothing (Chen & Goodman 1999), exactly computable because
    * the discount is fixed at D = ¾ (a RATIONAL, so every probability is
    * a ratio of exact integers — no float accumulation anywhere):
    *
    *   P_KN(y|x) = max(c(xy) − D, 0)/c(x·) + D·N1+(x·)/c(x·) · N1+(·y)/N1+(··)
    *
    * over a common denominator `4·c(x·)·N1+(··)` with numerator
    * `max(4c(xy)−3, 0)·N1+(··) + 3·N1+(x·)·N1+(·y)` — exact integer
    * products in DECIMAL (overflow-safe past 2⁶³), ONE final IEEE
    * division per bigram. Backbone of LM-based data scoring where
    * [[docSurprisal]]'s raw inverse frequency is too crude: unseen-mass
    * redistribution by CONTINUATION counts, the KN insight.
    *
    * Shapes: one bigram-occurrence explode (kernel grams, materialized
    * tokens), then censuses of the bigram table — c(xy), c(x·)+N1+(x·),
    * N1+(·y), the scalar type count. Vocabulary tables are unbounded →
    * every join SORT-MERGE pinned; the scalar broadcasts. Output: one
    * row per OBSERVED bigram (x, y, c_xy, p_kn).
    */
  def knBigramProbs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    val occ = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= 2)
      .select(explode(Dedup.gramsFromTokens(col("_toks"), 2)).as("gram"))
      .select(substring_index(col("gram"), " ", 1).as("x"),
        substring_index(col("gram"), " ", -1).as("y"))
    val cxy = occ.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cx = cxy.groupBy(col("x"))
      .agg(sum(col("c_xy")).as("c_x"), count(lit(1)).as("n1_x"))
    val n1y = cxy.groupBy(col("y")).agg(count(lit(1)).as("n1_y"))
    val ntot = cxy.agg(count(lit(1)).as("_ntot"))
    cxy.join(cx.hint("merge"), Seq("x"))
      .join(n1y.hint("merge"), Seq("y"))
      .crossJoin(broadcast(ntot))
      .select(col("x"), col("y"), col("c_xy"),
        ((d(greatest(col("c_xy") * 4 - 3, lit(0L))) * col("_ntot") +
          d(col("n1_x") * 3) * col("n1_y")).cast("double") /
          (d(col("c_x") * 4) * col("_ntot")).cast("double")).as("p_kn"))
  }

  /** Tiny per-language stopword marker sets used by the n-gram-heuristic
    * language scorer. Deterministic and oracle-expressible (IN-lists).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es")
  )

  /** Language-ID heuristic: argmax of per-language stopword hit counts,
    * with a fixed preference order (en > de > fr > es > unknown) on ties.
    * Tokenizes once (or reuses `toksCol` if the caller already
    * materialized tokens), materializes the four hit counts as attributes,
    * then applies the argmax — each stage is a projection, so nothing is
    * recomputed.
    */
  def languageGuessed(df: DataFrame, textCol: String,
                      toksCol: Option[String] = None): DataFrame = {
    val tCol = toksCol.getOrElse("_toks")
    val withToks = if (toksCol.isDefined) df else df.withColumn(tCol, tokens(col(textCol)))
    val withHits = stopwords.keys.foldLeft(withToks) { (d, lang) =>
      d.withColumn(s"_hits_$lang",
        size(filter(col(tCol), t => t.isin(stopwords(lang).map(lit(_): Any): _*))))
    }
    val dropCols = (if (toksCol.isDefined) Nil else Seq(tCol)) ++ stopwords.keys.map(l => s"_hits_$l")
    withHits.withColumn("guess", guessFromHits(lang => col(s"_hits_$lang")))
      .drop(dropCols: _*)
  }

  private def guessFromHits(hits: String => Column): Column = {
    val (en, de, fr, es) = (hits("en"), hits("de"), hits("fr"), hits("es"))
    when(en >= de && en >= fr && en >= es && en > 0, lit("en"))
      .when(de >= fr && de >= es && de > 0, lit("de"))
      .when(fr >= es && fr > 0, lit("fr"))
      .when(es > 0, lit("es"))
      .otherwise(lit("unknown"))
  }

  /** Certified heavy hitters: the exact top-k item counts (bounded
    * two-stage top-k via TakeOrdered, ties broken by item for a
    * deterministic rank-k boundary) plus per-item flags certifying the
    * count-min sketch contract `exact ≤ estimate ≤ exact + ⌈eps·N⌉`
    * (eps = 0.001 at confidence 0.99, seed 42) — the
    * same certified-accuracy pattern as the HLL and GK keys: the sketch's
    * raw cells are implementation-defined, its CONTRACT is deterministic
    * for a fixed input and seed, so a broken sketch flips a flag. The
    * sketch is Spark's built-in `stat.countMinSketch` (one corpus pass,
    * fixed depth×width cells regardless of cardinality — the bounded-state
    * form of frequency counting that exact groupBy cannot give a stream);
    * N comes from the sketch's own totalCount, costing no extra pass.
    */
  def heavyHittersCertified(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k > 0)
    val eps = 0.001
    val spark = df.sparkSession
    // item values go through the sketch AS STRINGS on both sides:
    // CountMinSketch.estimateCount dispatches on the runtime type, so a
    // long-typed column sketched as longs but probed through the String
    // UDF below would hash DIFFERENT cells and falsely fail certification
    // for every heavy hitter — casting at entry keys build and probe
    // identically for any input type
    val items = df.select(col(itemCol).cast("string").as("item"))
      .where(col("item").isNotNull)
    val cms = items.stat.countMinSketch("item", eps, 0.99, 42)
    val bound = math.ceil(eps * cms.totalCount()).toLong
    val cmsB = spark.sparkContext.broadcast(cms)
    val est = udf((s: String) => cmsB.value.estimateCount(s))
    items.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
      .limit(k)
      .withColumn("_est", est(col("item")))
      .select(col("item"), col("cnt"),
        (col("_est") >= col("cnt") && col("_est") <= col("cnt") + lit(bound))
          .as("within_cms_bounds"))
  }

  /** Quality signals: token count, mean token length, punctuation ratio,
    * stopword ratio — the standard cheap pre-filters for LLM corpora.
    * Tokenizes once (materialized column) before deriving the ratios.
    */
  def qualityScored(df: DataFrame, text: Column): DataFrame = {
    val withToks = df.withColumn("_toks", tokens(text))
    // tokenCount discipline: NULL text → NULL n_tokens (ANSI-off
    // size(null) is -1, which would skew sums negative and flip
    // n_tokens >= k filters); the ratio guards below then take their
    // 0.0 branch, matching the SQL oracle's CASE semantics exactly
    val nToks = when(text.isNotNull, size(col("_toks")))
    val nChars = length(text)
    val punct = length(regexp_replace(text, "[^.,;:!?]", ""))
    val swHits = size(filter(col("_toks"), t => t.isin(stopwords("en").map(lit(_): Any): _*)))
    withToks
      .withColumn("n_tokens", nToks)
      .withColumn("avg_token_len", when(nToks > 0, nChars.cast("double") / nToks.cast("double")).otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(nChars > 0, punct.cast("double") / nChars.cast("double")).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(nToks > 0, swHits.cast("double") / nToks.cast("double")).otherwise(lit(0.0)))
      .drop("_toks")
  }

  /** EXACT pairwise sparse-cosine document similarity (tf-weighted bag of
    * words) with df-capped candidate generation — the multiset-weighted
    * complement of [[graft.ops.Dedup.ngramJaccardPairs]] (same candidate
    * contract: a qualifying pair sharing ONLY tokens with df > maxDf is
    * not generated; any shared token with df ≤ maxDf guarantees the pair
    * is found and verified exactly).
    *
    * The threshold is a RATIONAL num/den and the compare is integer-only:
    * cos ≥ num/den  ⟺  den²·dot² ≥ num²·‖a‖²·‖b‖²  (dot ≥ 0 for tf
    * weights), evaluated in DECIMAL(38,0) after casting each long factor
    * — no sqrt, no float, hash-exact in any engine.
    *
    * OVERFLOW CONTRACT (a DECIMAL(38,0) product that overflows becomes
    * NULL with ANSI off, and where(NULL) would silently DROP a
    * qualifying pair): den²·dot² and num²·‖a‖²·‖b‖² must stay under
    * 10³⁸, i.e. dot < 10¹⁹/den and ‖·‖² < 10¹⁹/num per side. The
    * require below caps den at 10⁴ so the bound is ≥ 10¹⁵ — token-
    * multiset dot products are bounded by document length², far below
    * that for real corpora; finer thresholds than 1/10⁴ are
    * indistinguishable for near-dup work anyway.
    *
    * Scale: candidates come from CappedIds posting lists (per-token state
    * bounded at maxDf+1, pairs ≤ maxDf²/2 per token — linear in corpus);
    * the exact-dot join moves only candidate pairs' tf rows; the tf table
    * is persisted once and feeds norms, candidates, and the verify.
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                        thrNum: Int, thrDen: Int, maxDf: Int,
                        shingleN: Int = 1): DataFrame = {
    require(thrNum >= 0 && thrDen > 0 && thrNum <= thrDen && maxDf >= 2)
    require(thrDen <= 10000, "threshold denominator above 10^4 shrinks the decimal overflow headroom (see contract)")
    // feature unit: unigrams, or n-gram MULTISETS (gramsFromTokens keeps
    // duplicates — the tf weights are the point) when the corpus
    // vocabulary is too small for unigram df to discriminate. Tokens
    // materialize in a projection BEFORE the gram lambdas read them
    // (gramsFromTokens contract: a raw tokens(text) argument re-splits
    // the text per element — measured 3.8 s → 0.9 s for this tf build)
    val toksed = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val feats =
      if (shingleN <= 1) col("_toks")
      else Dedup.gramsFromTokens(col("_toks"), shingleN)
    // NOT persisted: tf's only consumer is the df-annotated tf2 below
    // (which IS the persisted corpus-wide artifact) — a cache copy here
    // would double the pipeline's footprint for a table read once
    val tf = toksed.select(col(idCol), explode(feats).as("_tok"))
      .groupBy(col(idCol), col("_tok")).agg(count(lit(1)).as("_tf"))
    // per-token df decides kept (candidate-generating) vs hot tokens.
    // df is a map-side-combined aggregate joined back ONCE, and the
    // annotated table is the single persisted corpus-wide artifact: kept
    // slice, hot slice, and norms all derive from it by pure filters,
    // and its _tok shuffle is what the kept self-join needs. Two prior
    // formulations are both rejected: a separate df table re-joined
    // THREE times (9.5 s at sf0.1 — three string-keyed corpus SMJs), and
    // a token-partitioned window count (fast at bench SF, but WindowExec
    // BUFFERS each partition, so ONE task holds a hot token's entire
    // (doc, tf) row set — at unigram scale a stopword's partition is
    // corpus-sized, the exact straggler/spill cliff the documented
    // "per-token state bounded" contract promises to avoid; the join
    // streams per key instead).
    val dfc = tf.groupBy(col("_tok")).agg(count(lit(1)).as("_dfc"))
    val tf2 = tf.join(dfc.hint("merge"), "_tok")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keptTf = tf2.where(col("_dfc") <= maxDf)
    // ONE self-join over the kept slice generates candidates AND their
    // kept-token partial dot together (≤ maxDf²/2 pairs per token —
    // linear in corpus); never a pair-list × full-token-list re-join
    val a = keptTf.select(col("_tok"), col(idCol).as("doc_a"), col("_tf").as("_tfa"))
    val b = keptTf.select(col("_tok").as("_tokb"), col(idCol).as("doc_b"),
      col("_tf").as("_tfb"))
    val pairsKept = a.join(b, col("_tok") === col("_tokb") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("_tfa") * col("_tfb")).as("_dot_kept"))
    // per-doc norms: total ‖·‖² plus the hot slice ‖·‖²_hot — the
    // Cauchy–Schwarz bound dot_hot ≤ √(hot_a·hot_b) turns the hot
    // completion into a per-pair SCALAR prefilter
    val norms = tf2.groupBy(col(idCol))
      .agg(sum(col("_tf") * col("_tf")).as("_nsq"),
        sum(when(col("_dfc") > maxDf, col("_tf") * col("_tf")).otherwise(0L))
          .as("_hotsq"))
    val na = norms.select(col(idCol).as("_naid"), col("_nsq").as("norm_a_sq"),
      col("_hotsq").as("_hota"))
    val nb = norms.select(col(idCol).as("_nbid"), col("_nsq").as("norm_b_sq"),
      col("_hotsq").as("_hotb"))
    val thrN = lit(thrNum.toLong * thrNum)
    val thrD = lit(thrDen.toLong * thrDen)
    // ε-relaxed ADMIT-ONLY prefilter (float sqrt can round either way;
    // the relaxation only lets borderline pairs through to the exact
    // verify, it never drops one)
    val ub = col("_dot_kept").cast("double") +
      sqrt(col("_hota").cast("double") * col("_hotb").cast("double"))
    val pre = pairsKept
      .join(na, col("doc_a") === col("_naid"))
      .join(nb, col("doc_b") === col("_nbid"))
      .where(thrD.cast("double") * ub * ub * lit(1.0 + 1e-9) >=
        thrN.cast("double") * col("norm_a_sq").cast("double") *
          col("norm_b_sq").cast("double"))
      .drop("_hota", "_hotb", "_naid", "_nbid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact hot completion over the surviving sliver only: hot rows come
    // straight from the cached annotated table; pre is the tiny side of
    // both joins (AQE broadcasts it — the corpus never reshuffles)
    val hotTf = tf2.where(col("_dfc") > maxDf)
    val ha = hotTf.select(col("_tok"), col(idCol).as("_hida"), col("_tf").as("_htfa"))
    val hb = hotTf.select(col("_tok").as("_htokb"), col(idCol).as("_hidb"),
      col("_tf").as("_htfb"))
    val hotDot = pre.select(col("doc_a"), col("doc_b"))
      .join(ha, col("doc_a") === col("_hida"))
      .join(hb, col("doc_b") === col("_hidb") && col("_tok") === col("_htokb"))
      .groupBy(col("doc_a").as("_ha"), col("doc_b").as("_hb"))
      .agg(sum(col("_htfa") * col("_htfb")).as("_dot_hot"))
    def d(c: Column) = c.cast("decimal(19,0)")
    pre
      .join(hotDot, col("doc_a") === col("_ha") && col("doc_b") === col("_hb"),
        "left_outer")
      .withColumn("dot", col("_dot_kept") + coalesce(col("_dot_hot"), lit(0L)))
      .where(thrD * (d(col("dot")) * d(col("dot"))) >=
        thrN * (d(col("norm_a_sq")) * d(col("norm_b_sq"))))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        col("norm_a_sq"), col("norm_b_sq"))
  }
}
