package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level transforms (SURVEY.md §2.2, ops 7-14). All pure column
  * expressions — codegen-friendly, no UDFs.
  */
object Transforms {

  /** Op 7 — manual column pruning (global_dag.py:53-54,63-64). */
  def dropCols(df: DataFrame, cols: Seq[String]): DataFrame = df.drop(cols: _*)

  /** Op 8 — bulk rename (global_dag.py:55-56,65-66). */
  def renameCols(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.withColumnsRenamed(renames)

  /** Op 9 — multi-format date parse with null fallback: try `yyyyMMdd`, then
    * `yyyy-MM-dd`, else null (global_dag.py:111-118). Requires ANSI off so
    * `to_date` nulls instead of throwing — exactly the strptime-fails→None
    * semantics, including day/month `00` dates (SURVEY.md §7.4.5). Also
    * requires `spark.sql.legacy.timeParserPolicy=CORRECTED` (pinned in
    * [[graft.Prep]]): the guards below over-approximate the CORRECTED
    * formatter; the LEGACY parser accepts non-ASCII digits and trailing
    * junk the ASCII-anchored regexes reject, which would flip those
    * parses to null.
    *
    * Each format attempt is wrapped in a SHAPE GUARD ([[shapeGuard]]) when
    * one can be derived: under the hood a failed `to_date` is a JVM
    * throw-and-catch PER ROW inside the formatter, so in the multi-format
    * regime most rows pay (formats − 1) exception constructions — at
    * corpus scale the exceptions, not the successful parses, dominate
    * (measured 2.6× on the op09 key at sf1). The guard is a regex that
    * over-approximates the format's accept set, so `rlike` false ⇒
    * `to_date` surely null and the attempt is skipped exception-free;
    * rlike true falls through to `to_date`, which remains the sole
    * decider — results are bit-identical to the unguarded form
    * (adversarial-input equality spec in TransformsSpec).
    */
  def parseDateMulti(c: Column, formats: Seq[String] = Seq("yyyyMMdd", "yyyy-MM-dd")): Column =
    coalesce(formats.map { f =>
      shapeGuard(f) match {
        case Some(re) => when(c.rlike(re), to_date(c, f)) // guard false → null, no parse attempt
        case None => to_date(c, f)
      }
    }: _*)

  /** A regex OVER-approximating the set of strings `to_date(c, fmt)` can
    * accept — i.e. non-matching ⇒ the parse surely nulls, matching ⇒ ask
    * the parser. Derived only for the safe token subset (None ⇒ caller
    * must attempt the parse unguarded):
    *
    *  - `yyyy` → `[+-]?\d{4,}`: Spark's CORRECTED-mode formatter parses a
    *    4..19-digit year where >4 digits or negative years carry a
    *    leading sign (probed: `+12345-01-01` and `-0100-01-01` PARSE
    *    under `yyyy-MM-dd`, `12345-01-01` does not) — the optional sign
    *    and open width keep the guard an over-approximation.
    *  - exactly-2-letter runs of `M d H m s` → `\d{2}` (fixed-width
    *    numeric).
    *  - any other letter run (single-letter variable-width tokens, 3+-
    *    letter TEXT tokens like `MMM` = Jan, era/zone tokens) → no guard:
    *    their accept shapes vary and a wrong guess would flip an accepted
    *    input to null, which the over-approximation contract forbids.
    *  - non-letter chars are literal separators, quoted verbatim.
    */
  private[graft] def shapeGuard(fmt: String): Option[String] = {
    // formats containing DateTimeFormatter QUOTED literals get no guard:
    // the quote chars are format syntax (the parser matches the QUOTED
    // text, not apostrophes), but the loop below would Pattern.quote them
    // as literal apostrophes — a guard that rejects strings the parser
    // accepts, breaking the over-approximation contract (probed:
    // to_date("20240101 ", "yyyyMMdd' '") parses; the naive guard says no)
    if (fmt.contains('\'')) return None
    val sb = new StringBuilder("^")
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch.isLetter) {
        var j = i
        while (j < fmt.length && fmt.charAt(j) == ch) j += 1
        val k = j - i
        ch match {
          case 'y' if k == 4 => sb.append("[+-]?\\d{4,}")
          // exactly 2 letters = the fixed-width numeric form; 1 letter is
          // variable-width (1-2 digits) and 3+ is a TEXT token (MMM = Jan).
          // MM/dd additionally range-check (01-12 / 01-31): the formatter
          // strictly rejects month/day 00 and 13+/32+ (probed in the spec),
          // so the tighter class is still an over-approximation — it keeps
          // the all-zero/range-junk rows exception-free too, while
          // calendar-dependent invalids (Feb 30) still fall through to the
          // parser. H/m/s stay \d{2}: their edge acceptance (leap-second
          // style values) is unprobed, and a too-tight guard would break
          // the over-approximation contract
          case 'M' if k == 2 => sb.append("(?:0[1-9]|1[0-2])")
          case 'd' if k == 2 => sb.append("(?:0[1-9]|[12][0-9]|3[01])")
          case 'H' | 'm' | 's' if k == 2 => sb.append("\\d{2}")
          case _ => return None
        }
        i = j
      } else {
        sb.append(java.util.regex.Pattern.quote(ch.toString))
        i += 1
      }
    }
    Some(sb.append("$").result())
  }

  /** Op 10 — validity filter: drop rows where any required column is null/NaN
    * (global_dag.py:140-143,203-204,210-211).
    */
  def filterValid(df: DataFrame, required: Seq[String]): DataFrame =
    required.foldLeft(df) { (d, c) =>
      val cl = col(c)
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          d.filter(cl.isNotNull && !isnan(cl))
        case _ => d.filter(cl.isNotNull)
      }
    }

  /** Op 11 — split a `"lat,lon"` string into typed columns (global_dag.py:205,212).
    * `sep` is a LITERAL separator: Spark's `split` takes a regex, so it is
    * quoted here — an unquoted "|" would be the empty-alternation regex and
    * silently split between every character.
    */
  def splitPoint(c: Column, sep: String = ","): (Column, Column) = {
    val parts = split(c, java.util.regex.Pattern.quote(sep))
    (element_at(parts, 1).cast("double"), element_at(parts, 2).cast("double"))
  }

  /** Op 12 — deterministic hash id over business columns. The reference uses
    * sha1 of the raw name field (deaths, global_dag.py:99) and sha1(str(row))
    * (plants, :200,208 — unstable; re-specified as a concat of business columns,
    * SURVEY.md §7.4.1). `md5` variant provided because the DuckDB oracle has no
    * sha1.
    */
  def hashId(cols: Seq[Column], algo: String = "sha1"): Column = {
    // concat_ws SKIPS null columns, so (a, null, b) and (a, b, null) would
    // hash identically — distinct rows silently merging under one id. Each
    // column is sentinel-coalesced (NUL byte: absent from real field data);
    // non-null payloads stay byte-identical to plain concat_ws, so SQL
    // mirrors keep matching. CAVEAT: a field VALUE containing `|` can
    // still alias adjacent fields.
    val payload = concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*)
    algo match {
      case "sha1" => sha1(payload)
      case "md5"  => md5(payload)
      case "sha256" => sha2(payload, 256)
      case other  => throw new IllegalArgumentException(s"unknown hash algo: $other")
    }
  }

  /** Op 13 — constant discriminator column (global_dag.py:206,213). */
  def tag(df: DataFrame, name: String, value: String): DataFrame =
    df.withColumn(name, lit(value))

  /** Wide→long unpivot (melt): one output row per (id, measure) pair via
    * `stack` — a generated projection, zero shuffles, linear. The inverse
    * of `op_pivot`'s groupBy().pivot().
    */
  def unpivot(df: DataFrame, ids: Seq[String], measures: Seq[String],
              nameCol: String = "measure", valueCol: String = "value"): DataFrame = {
    require(measures.nonEmpty)
    // names are interpolated into generated SQL — escape string-literal
    // backslashes (escapedStringLiterals is off by default, so a bare
    // backslash either escapes the closing quote → parse error, or maps
    // an escape sequence → silently corrupted label), quotes, and
    // identifier backticks, or a name containing any of them breaks (or
    // worse, reshapes) the parse
    def lt(s: String) = s.replace("\\", "\\\\").replace("'", "''")
    def id(s: String) = "`" + s.replace("`", "``") + "`"
    val stackArgs = measures.map(m => s"'${lt(m)}', ${id(m)}").mkString(", ")
    df.selectExpr(ids.map(id) :+
      s"stack(${measures.length}, $stackArgs) AS (${id(nameCol)}, ${id(valueCol)})": _*)
  }

  /** Group-mean null imputation, reported: per group the row count,
    * missing count, the imputation value (exact decimal sum of the
    * non-null measures → ONE IEEE division), and the group total after
    * imputation. The total is assembled as
    * `sum_nonnull + n_missing·mean` — two deterministic double ops on
    * exact inputs — NOT by summing per-row imputed doubles, whose
    * partition-order-dependent float addition would make the result
    * engine- and run-varying. The exact sum rounds at 6 decimal places.
    * One aggregation, map-side partials, output bounded by |groups|.
    */
  def meanImputeReport(df: DataFrame, group: Column, value: Column): DataFrame = {
    // numerator and denominator must agree on what counts as a value
    // (probed on 4.1.2): the decimal cast NULLs NaN/±Inf/out-of-window
    // doubles out of the SUM while count(value) still counted them — a
    // [2.0, NaN, null] group reported mean 1.0 instead of excluding (or
    // propagating) the NaN. Both now see the same validity-filtered value
    // — NaN/Inf rows count into n_rows but join the MISSING population
    // (they carry no usable magnitude, exactly like null).
    val v = value.cast("double")
    val valid = when(v.isNotNull && !isnan(v) &&
      v =!= Double.PositiveInfinity && v =!= Double.NegativeInfinity, v)
    df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(valid.isNull, 1L).otherwise(0L)).as("n_missing"),
        count(valid).as("_nv"),
        // momentSum fast path: `valid` is double with NaN/Inf already
        // nulled, so the long rounding sees only finite magnitudes
        Analytics.momentSumFloating(valid, 6).as("_s"))
      .select(col("grp"), col("n_rows"), col("n_missing"),
        (col("_s").cast("double") / col("_nv").cast("double")).as("mean_used"),
        (col("_s").cast("double") +
          (col("_s").cast("double") / col("_nv").cast("double")) *
            col("n_missing").cast("double")).as("total_after"))
  }

  /** SCD2 MERGE-apply — the write half of the dimension-versioning
    * family (op_scd2 BUILDS intervals from history, op_scd2_lookup reads
    * them; this APPLIES a new change batch): given the dimension as
    * (key, attr, valid_from, valid_to — NULL = current) and one update
    * row per key as (key, attr, ts), a changed attribute closes the
    * current interval at ts and opens a new current row; an unchanged
    * attribute is a NO-OP (idempotent re-delivery); an unseen key
    * inserts its first open row. One full-outer join on the natural key
    * + unions — history rows pass through untouched, so the merge costs
    * O(current + updates), never O(history).
    * Returns the new dimension plus a per-row `_action` audit column
    * (history | noop | closed | opened | inserted).
    */
  def scd2Apply(dim: DataFrame, updates: DataFrame): DataFrame = {
    val cur = dim.where(col("valid_to").isNull)
      .select(col("key"), col("attr"), col("valid_from"))
    val hist = dim.where(col("valid_to").isNotNull)
      .select(col("key"), col("attr"), col("valid_from"), col("valid_to"),
        lit("history").as("_action"))
    val u = updates.select(col("key"), col("attr").as("_uattr"), col("ts").as("_uts"))
    // row PRESENCE via literal markers, never attr nullness (the tableDiff
    // convention): a current row whose attr is legitimately NULL must
    // close when updated — attr-null presence flags would route it to no
    // branch at all, silently destroying its interval — and an update
    // SETTING attr to null must apply, not classify as noop. Value
    // comparison is <=> for the same reason.
    // NULL-SAFE key join (the upsert convention, probed on 4.1.2): with
    // usingColumns EqualTo, a null-keyed current row never matches a
    // null-keyed update — the old interval stays open AND a second open
    // row inserts: two simultaneously-current rows for one key
    val j0 = cur.withColumn("_c_present", lit(1)).alias("_scd_c")
      .join(u.withColumn("_u_present", lit(1)).alias("_scd_u"),
        col("_scd_c.key") <=> col("_scd_u.key"), "full_outer")
    val j = j0.select(
      coalesce(col("_scd_c.key"), col("_scd_u.key")).as("key"),
      col("_scd_c.attr").as("attr"), col("valid_from"),
      col("_uattr"), col("_uts"), col("_c_present"), col("_u_present"))
    val cPresent = col("_c_present").isNotNull
    val uPresent = col("_u_present").isNotNull
    val noop = j.where(cPresent && (!uPresent || col("attr") <=> col("_uattr")))
      .select(col("key"), col("attr"), col("valid_from"),
        lit(null).cast("long").as("valid_to"), lit("noop").as("_action"))
    val changedCond = cPresent && uPresent && !(col("attr") <=> col("_uattr"))
    val closed = j.where(changedCond)
      .select(col("key"), col("attr"), col("valid_from"),
        col("_uts").as("valid_to"), lit("closed").as("_action"))
    val opened = j.where(changedCond)
      .select(col("key"), col("_uattr").as("attr"), col("_uts").as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit("opened").as("_action"))
    val inserted = j.where(!cPresent && uPresent)
      .select(col("key"), col("_uattr").as("attr"), col("_uts").as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit("inserted").as("_action"))
    hist.unionByName(noop).unionByName(closed).unionByName(opened).unionByName(inserted)
  }

  /** Row-level table diff — the lakehouse "what changed between version
    * v0 and v1" operator (the read-side complement of op_time_travel's
    * COW merge): one null-safe full-outer join on the natural key,
    * classifying every key as added (absent in v0), removed (absent in
    * v1), changed (present in both, any compared column differing
    * null-safely), or unchanged. Output: the key columns + each compared
    * column twice (`<c>_old`, `<c>_new`) + `diff_status`.
    *
    * Scale: ONE sort-merge join on the key (both sides corpus-sized —
    * never broadcast), linear output. Keys must be unique per side (the
    * usual primary-key contract; duplicate keys would cross-multiply in
    * the join, as in any MERGE).
    */
  def tableDiff(v0: DataFrame, v1: DataFrame, keys: Seq[String],
                compare: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compare.nonEmpty)
    val a = v0.select((keys ++ compare).map(col): _*).alias("a")
    val b = v1.select((keys ++ compare).map(col): _*).alias("b")
    // usingColumns full_outer coalesces the key columns. Presence flags:
    // a key exists on a side iff the join found a row there — tracked via
    // a literal marker column, not value nullness (a present row may have
    // all-null compared values). Value comparison is <=> so null→value
    // and value→null transitions classify as changed, not unchanged.
    // collision-safe marker names (the dedupFirst pattern): withColumn
    // REPLACES an existing column, so a user key/compare column literally
    // named "_a_present" would be overwritten by the marker and the
    // added/removed classification could never fire for that side
    val taken = (keys ++ compare).toSet
    val aFlag = Iterator.from(0).map(i => s"_a_present$i").filterNot(taken).next()
    val bFlag = Iterator.from(0).map(i => s"_b_present$i").filterNot(taken).next()
    val am = a.withColumn(aFlag, lit(1)).alias("a2")
    val bm = b.withColumn(bFlag, lit(1)).alias("b2")
    // NULL-SAFE key join (the upsert convention): a null-keyed row present
    // in both versions must classify as changed/unchanged, not inflate the
    // diff as one 'removed' plus one 'added' — usingColumns would EqualTo
    // the keys. Key outputs coalesce across sides like usingColumns did.
    val keyCond = keys.map(k => col(s"a2.`$k`") <=> col(s"b2.`$k`")).reduce(_ && _)
    val j2 = am.join(bm.hint("merge"), keyCond, "full_outer")
    val changed = compare.map(c => !(col(s"a2.`$c`") <=> col(s"b2.`$c`")))
      .reduce(_ || _)
    j2.select(
      keys.map(k => coalesce(col(s"a2.`$k`"), col(s"b2.`$k`")).as(k)) ++
        compare.flatMap(c => Seq(col(s"a2.`$c`").as(s"${c}_old"),
          col(s"b2.`$c`").as(s"${c}_new"))) :+
        when(col(aFlag).isNull, lit("added"))
          .when(col(bFlag).isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")).as("diff_status"): _*)
  }
}
