package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's production analytics (SURVEY.md §3.3: Q-RADIUS,
  * Q-PLANT-DEATHS, Q-YEARLY, Q-HEATMAP) as generic operators, plus the
  * window/top-k/session surface the reference lacks (§2.7).
  */
object Analytics extends AnalyticsStatsOps with AnalyticsSeqOps
    with AnalyticsGraphOps with AnalyticsModelOps {
  /** Q-HEATMAP — density by grid cell: `groupBy(bin(x), bin(y)).count()`.
    * Uses floor-binning (exact on doubles) rather than round (whose tie
    * behavior differs across engines).
    */
  def heatmap(df: DataFrame, x: Column, y: Column, xBin: Double, yBin: Double): DataFrame =
    df.groupBy(
        floor(x / xBin).cast("long").as("cell_x"),
        floor(y / yBin).cast("long").as("cell_y"))
      .agg(count(lit(1)).as("cnt"))

  /** Q-YEARLY — per-year counts with an "entity active since" predicate
    * (`year(event) >= active_year`), the slider analytic of the reference's
    * production plan.
    */
  def yearlyActive(df: DataFrame, eventDate: Column, activeYear: Column, groupCols: Seq[Column]): DataFrame =
    df.filter(year(eventDate) >= activeYear)
      .groupBy((year(eventDate).as("yr") +: groupCols): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Rank-within-partition top-n as column `rnk` (deterministic: callers
    * must pass a total order). Plans as a single window over one shuffle
    * of the input.
    */
  def rankTopN(df: DataFrame, partition: Seq[Column], order: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= n)
  }
}

/** Helpers shared across the Analytics*Ops split traits. */
trait AnalyticsBase {
  /** The cell budget of the categorical×categorical operators
    * (`chiSquare`, `naiveBayes2Fit`): their driver-side collects are
    * bounded by it, and a larger table fails as non-categorical input.
    */
  private[ops] val MaxCategoricalCells = 4096

  /** Helper-column names that cannot collide with the input schema: prefix
    * underscores until the name is unused (also reserving against the other
    * fresh names minted in the same call). Collision checks are
    * case-INSENSITIVE, matching Spark's default column resolution — an
    * input column "_G" must still force "_g" to be renamed.
    */
  private[ops] def freshNames(df: DataFrame, bases: String*): Seq[String] = {
    val used = scala.collection.mutable.Set[String](df.columns.map(_.toLowerCase).toIndexedSeq: _*)
    bases.map { b =>
      var n = b
      while (used(n.toLowerCase)) n = "_" + n
      used += n.toLowerCase
      n
    }
  }

  /** Overflow-safe product for the exact-moment aggregates: when BOTH
    * operands resolve to integral types against `df`, the left one widens
    * to DECIMAL first — long·long silently WRAPS past 2⁶³ and the later
    * decimal cast then blesses the wrapped garbage (the ols2 discipline:
    * cast BEFORE multiplying), while decimal·integral widens exactly.
    * Floating operands keep the plain product: an IEEE multiply cannot
    * wrap, and widening would ROUND fractional values (xScale = 0 callers
    * pass integer-valued doubles) — so the double path stays bit-identical
    * to its history and to the DuckDB oracle mirrors.
    */
  private[ops] def mulNoWrap(df: DataFrame, a: Column, b: Column): Column = {
    import org.apache.spark.sql.types._
    // IntegralType itself is private[sql] — enumerate the concrete types
    def integral(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val dts = df.select(a, b).schema.fields.map(_.dataType)
    if (dts.forall(integral)) a.cast("decimal(20,0)") * b
    else a * b
  }
}
