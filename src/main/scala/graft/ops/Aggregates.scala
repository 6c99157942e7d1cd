package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation / dedup / set operators (SURVEY.md §2.4, ops 17-19). */
object Aggregates {

  /** Op 17 — first-wins dedup by key subset, deterministic variant. The
    * reference's `drop_duplicates(subset=['plant'])` keeps the first row in
    * file order (global_dag.py:190,194); `dropDuplicates` keeps an arbitrary
    * row, so for oracle-able output we pin "first" with an explicit ordering
    * (SURVEY.md §7.4.2).
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    // quoted as in [[upsert]]: a dotted key names a column, not a field path
    val w = Window.partitionBy(keys.map(k => col(s"`$k`")): _*).orderBy(order: _*)
    // collision-safe helper name: withColumn REPLACES an existing column,
    // so a hardcoded "_rn" would silently drop a business column of that
    // name from the output
    val rn = Iterator.from(0).map(i => s"_rn$i").filterNot(df.columns.contains).next()
    df.withColumn(rn, row_number().over(w)).where(col(rn) === 1).drop(rn)
  }

  /** The in-batch duplicate rule of every keyed write, described at [[upsert]]. */
  private[graft] def dedupByContent(df: DataFrame, keys: Seq[String]): DataFrame = {
    val order = df.schema.fields.collect {
      case f if !keys.contains(f.name) && RowOrdering.isOrderable(f.dataType) =>
        col(s"`${f.name}`").asc_nulls_last
    }
    if (order.isEmpty) df.dropDuplicates(keys) else dedupFirst(df, keys, order.toSeq)
  }

  /** MERGE/upsert semantics relationally: rows of `updates` replace
    * same-key rows of `base`; unmatched update rows insert. One anti-join
    * + one union — the last-write-wins half of a MERGE statement (the
    * insert-only half is [[idempotentNewRows]]). Columns must align.
    * At 100 TB both sides shuffle once on the key; with `base` stored
    * bucketed on the key (`Sinks.bucketedTable`) the base side's exchange
    * disappears entirely.
    *
    * Duplicate keys WITHIN `updates` keep one row, the first when the key's
    * rows are ordered on every orderable non-key column ascending, nulls
    * last: rows that differ in content never tie, so the survivor does not
    * depend on partitioning. Rows differing only in map-typed columns tie.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val u = dedupByContent(updates, keys)
    // NULL-SAFE anti join: with plain equality a null-key base row never
    // matches a null-key update, so BOTH would survive the union — two
    // rows for one key, violating the MERGE invariant. `<=>` treats null
    // as a join value, so a null-key update replaces the null-key base
    // row like any other key. Both sides are alias-qualified so the
    // condition resolves even when `updates` derives from `base` (shared
    // attribute ids would otherwise make the join self-ambiguous).
    val b = base.alias("_upsert_b")
    val uk = u.select(keys.map(k => col(s"`$k`")): _*).alias("_upsert_u")
    // keys are backtick-quoted in the qualified reference: an unquoted
    // dotted key name ("a.b") would parse as a nested-field path and fail
    // to resolve, a regression the plain Seq-based join never had
    val cond = keys.map(k => col(s"_upsert_b.`$k`") <=> col(s"_upsert_u.`$k`"))
      .reduce(_ && _)
    b.join(uk, cond, "left_anti")
      .unionByName(u)
  }

  /** Op 18 — idempotent append: `INSERT ... ON CONFLICT DO NOTHING`
    * (global_dag.py:144, PK at create_death_table.sql:5). Returns only the
    * batch rows whose keys are absent from the existing sink, deduplicated
    * within the batch by [[upsert]]'s rule; appending the result is a no-op
    * on re-run. The anti-join is NULL-SAFE (the upsert convention): a
    * plain-equality anti-join never matches a null-keyed batch row against
    * an existing null-keyed sink row, so every re-run would re-emit — and
    * the sinks built on this would re-append — the null-key row.
    */
  def idempotentNewRows(batch: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame = {
    val b = dedupByContent(batch, keys).alias("_inr_b")
    val e = existing.select(keys.map(k => col(s"`$k`")): _*).alias("_inr_e")
    val cond = keys.map(k => col(s"_inr_b.`$k`") <=> col(s"_inr_e.`$k`"))
      .reduce(_ && _)
    b.join(e, cond, "left_anti")
  }

  /** Op 19 — schema-aligning UNION ALL (global_dag.py:199-213). */
  def unionAligned(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionAligned: no input frames")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Incremental materialized-view maintenance for a per-group
    * (count, sum) aggregate: apply a full-row CDC diff ([[ManifestTable.diff]]
    * shape — `_change` ∈ insert|delete, updates arrive as delete+insert)
    * to a previously-computed aggregate WITHOUT rescanning the base table
    * — the delta-maintenance identity `new = old ⊎ (+inserts, −deletes)`
    * that makes a 100-TB rollup refresh cost O(changes), not O(table).
    *
    * `oldAgg` carries the group keys plus `cnt` (long) and `sum_val`
    * (DECIMAL — the caller keeps the sum in decimal between refreshes so
    * the maintained value stays EXACTLY equal to a full recompute in any
    * application order; a double sum would drift by reassociation).
    * Groups may appear (full-outer + coalesce) and disappear (cnt 0 rows
    * drop). One aggregation over the diff + one join against the old
    * aggregate — both group-cardinality-sized, never table-sized.
    */
  def maintainSumCount(oldAgg: DataFrame, cdc: DataFrame,
                       keys: Seq[String], valCol: Column): DataFrame = {
    // fail-fast on out-of-contract _change values (the hashId posture): a
    // CDC feed emitting e.g. 'update_preimage'/'update_postimage' would
    // otherwise have BOTH rows silently subtracted, drifting the
    // maintained aggregate with no error
    val sign = when(col("_change") === "insert", 1L)
      .when(col("_change") === "delete", -1L)
      .otherwise(raise_error(concat(
        lit("maintainSumCount: unknown _change value '"), col("_change"),
        lit("' — this operator consumes tableDiff/cdcBetween output (insert/delete only)"))))
    val delta = cdc.groupBy(keys.map(col): _*)
      .agg(sum(sign).as("_dn"),
        sum(valCol * sign).as("_dsum"))
    // NULL-SAFE key join (the upsert convention): groupBy treats a NULL
    // key as a real group, so the usingColumns EqualTo would never merge
    // the null group's delta into its old row — two rows for one group
    // where the full recompute has one. Key outputs coalesce across sides.
    val o = oldAgg.alias("_msc_o")
    val d2 = delta.alias("_msc_d")
    val keyCond = keys.map(k => col(s"_msc_o.`$k`") <=> col(s"_msc_d.`$k`"))
      .reduce(_ && _)
    // lit(0) coerces to the decimal type of each side's sum column
    val outCols = keys.map(k =>
      coalesce(col(s"_msc_o.`$k`"), col(s"_msc_d.`$k`")).as(k)) ++ Seq(
      (coalesce(col("cnt"), lit(0L)) + coalesce(col("_dn"), lit(0L))).as("cnt"),
      (coalesce(col("sum_val"), lit(0)) + coalesce(col("_dsum"), lit(0))).as("sum_val"))
    o.join(d2, keyCond, "full_outer")
      .select(outCols: _*)
      .where(col("cnt") > 0)
  }

  /** Top-k by an explicit total order — Spark plans this as
    * TakeOrderedAndProject (no full sort, no full shuffle of the data).
    */
  def topK(df: DataFrame, k: Int, order: Seq[Column]): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Survivorship / golden-record merge: per key, each payload column
    * takes its value from the most recent row WHERE THAT COLUMN IS
    * NON-NULL (per-attribute recency, the standard MDM survivorship
    * rule — a fresher row with a null attribute must not erase an older
    * value). One aggregation: each payload is max(struct(recency…,
    * value)) over its non-null rows — struct ordering is lexicographic,
    * so the recency columns decide and the value rides along; ties on
    * the full recency vector resolve by the value itself (make the
    * recency vector unique — add a row id — when that matters).
    * Extra plain aggregates append as-is. Map-side partial aggregation,
    * no window, no join.
    */
  def goldenRecord(df: DataFrame, key: Column, recency: Seq[Column],
                   payload: Seq[(String, Column)],
                   extra: Seq[Column] = Nil): DataFrame = {
    require(recency.nonEmpty && payload.nonEmpty)
    val picks = payload.map { case (name, c) =>
      max(when(c.isNotNull, struct(recency :+ c.as("_v"): _*)))
        .getField("_v").as(name)
    }
    val aggs = picks ++ extra
    df.groupBy(key).agg(aggs.head, aggs.tail: _*)
  }

  /** Order-independent table fingerprint for replication/migration
    * validation: per-row digest = the first 60 bits of
    * md5(concat_ws('|', cols)) as a long, folded with SUM — commutative
    * and associative, so the checksum is identical across partition
    * layouts, engines, and row orders WITHOUT any sort (one linear pass
    * + a 1-row aggregate; the only honest way to compare two 100-TB
    * copies). Collision posture: a row-level md5 collision or a
    * sum-cancelling multi-row edit is negligible for validation (not
    * adversarial integrity). Callers pass canonical STRING columns —
    * cast floats through DECIMAL first (float→string formatting is not
    * engine-portable); nulls encode as a sentinel distinct from the
    * empty string via concat_ws skipping plus an explicit coalesce.
    */
  def tableChecksum(df: DataFrame, cols: Seq[Column]): DataFrame = {
    require(cols.nonEmpty)
    // the NUL-sentinel row canonicalization mirrors Transforms.hashId's
    // (see its scaladoc for the separator-aliasing caveat); the two stay
    // as SEPARATE literal forms on purpose -- each is pinned by its own
    // oracle hash, so sharing one helper would couple two frozen byte
    // formats that must each never change
    val canon = concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*)
    // the fold runs in DECIMAL(38,0): a 60-bit digest summed over even
    // 10^9 rows reaches ~10^27 -- far past int64 (which Spark would
    // silently WRAP while the SQL mirror widens), comfortably inside
    // decimal. Emitted as a digit string (decimal-vs-hugeint dtypes
    // don't compare portably; their digits do).
    df.select(conv(substring(md5(canon), 1, 15), 16, 10)
        .cast("decimal(38,0)").as("_d"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_d")).cast("decimal(38,0)").cast("string").as("checksum"))
  }
}
