package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: rewrite a naive radius θ-join —
  * `Filter(haversine(l, r) <= radius, CrossJoin(L, R))` — into a 2-D
  * (latitude band × longitude ring cell) equi-join.
  *
  * The naive plan is a Cartesian/broadcast-nested-loop product: O(|L|·|R|)
  * haversine evaluations. Any two points within `radius` km differ in
  * latitude by at most radius/111.195 degrees (the great-circle angle is at
  * least the latitude delta), so banding both sides into
  * `band = floor(lat / cellSize)` with `cellSize >= radius/111.195` and
  * replicating the right side into bands {c-1, c, c+1} guarantees every
  * qualifying pair meets in an equi-join on the band.
  *
  * Latitude alone is not enough at scale: a 300-km band is a ~2.7° strip
  * containing EVERY longitude on Earth, so band populations grow with the
  * whole planet's data. Each band is therefore further split into longitude
  * ring cells whose width adapts to the band's latitude (a degree of
  * longitude shrinks by cos(lat)): from the haversine identity
  * `sin²(d/2R) ≥ cosφ₁·cosφ₂·sin²(Δλ/2)`, any in-radius pair reachable from
  * band c satisfies `Δλ ≤ 2·asin(sin(r/2R)/cos_min(c))`, which is the ring
  * width for that band. Both join sides derive the width from the SAME band
  * index (the right side from its replicated band), so the keys agree by
  * construction; rings wrap at the antimeridian via pmod, and a band whose
  * ±1-band reach touches a pole degenerates to a single ring cell (lat-only
  * banding exactly where longitude stops meaning anything). The exact
  * haversine filter is re-applied above, so the rewrite is semantics-
  * preserving for ANY input — no caller-supplied latitude bound.
  *
  * This is the reference's flagship analytic (deaths within 10 km of a power
  * plant, docs/Report.md:85-89) made safe to write naively.
  *
  * Fires only on condition-less Inner/Cross joins; the rewritten join has an
  * equi-condition, so the rule cannot re-fire on its own output.
  */
object RadiusJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  // cell size is derived from the matched 2R multiplier (below), so the
  // rewrite is unit-agnostic: whatever radius unit the formula uses, the
  // latitude bound is r / (R·π/180) degrees

  /** Matches the canonical haversine comparison built by graft.functions.Geo
    * — `2R * asin(sqrt(sin²(Δlat/2) + cos(lat1)cos(lat2)sin²(Δlon/2))) <= r`
    * after analyzer type-coercion and constant folding — yielding
    * (lat1, lon1, lat2, lon2, radius, twoR); radius and the matched `2R`
    * literal share whatever unit the user's formula uses.
    */
  private object HaversinePredicate {
    def unapply(e: Expression): Option[(Expression, Expression, Expression, Expression, Double, Double)] = e match {
      case LessThanOrEqual(Haversine(lat1, lon1, lat2, lon2, twoR), DoubleLit(r)) => Some((lat1, lon1, lat2, lon2, r, twoR))
      case LessThan(Haversine(lat1, lon1, lat2, lon2, twoR), DoubleLit(r)) => Some((lat1, lon1, lat2, lon2, r, twoR))
      case GreaterThanOrEqual(DoubleLit(r), Haversine(lat1, lon1, lat2, lon2, twoR)) => Some((lat1, lon1, lat2, lon2, r, twoR))
      case GreaterThan(DoubleLit(r), Haversine(lat1, lon1, lat2, lon2, twoR)) => Some((lat1, lon1, lat2, lon2, r, twoR))
      case _ => None
    }
  }

  private object DoubleLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, _) => Some(v)
      case Cast(Literal(v: Double, _), _, _, _) => Some(v)
      case _ => None
    }
  }

  private object HalfAngleSinSq {
    /** sin²(radians(b − a) / 2) → (a, b) */
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Pow(Sin(Divide(ToRadians(Subtract(b, a, _)), DoubleLit(d), _)), DoubleLit(p)) if d == 2.0 && p == 2.0 =>
        Some((a, b))
      case _ => None
    }
  }

  /** The haversine sum-of-squares term, with or without the antipodal
    * `least(a, 1.0)` NaN clamp Geo.haversine now emits — both shapes must
    * rewrite (users may write the textbook unclamped form in raw SQL).
    */
  private object HaversineSum {
    def unapply(e: Expression): Option[(Expression, Expression, Expression, Expression)] = e match {
      case Least(Seq(HaversineSum(lat1, lon1, lat2, lon2), DoubleLit(one))) if one == 1.0 =>
        Some((lat1, lon1, lat2, lon2))
      case Add(
            HalfAngleSinSq(lat1, lat2),
            Multiply(Multiply(Cos(ToRadians(cl1)), Cos(ToRadians(cl2)), _), HalfAngleSinSq(lon1, lon2), _), _)
          if cl1.semanticEquals(lat1) && cl2.semanticEquals(lat2) =>
        Some((lat1, lon1, lat2, lon2))
      case _ => None
    }
  }

  private object Haversine {
    def unapply(e: Expression): Option[(Expression, Expression, Expression, Expression, Double)] = e match {
      case Multiply(DoubleLit(twoR), Asin(Sqrt(HaversineSum(lat1, lon1, lat2, lon2))), _) =>
        Some((lat1, lon1, lat2, lon2, twoR))
      case _ => None
    }
  }

  /** By the time user optimizer rules run, `PushPredicateThroughJoin` has
    * folded the filter into the join condition, so the pattern is a
    * Cross/Inner join whose condition contains the haversine conjunct (and
    * no equi-conjunct — those joins are already hash-joinable).
    */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Cross | Inner, Some(cond), _) if !hasEquiCondition(left, right, cond) =>
      val hit = splitConjunctivePredicates(cond).collectFirst {
        case HaversinePredicate(lat1, lon1, lat2, lon2, r, twoR) if r > 0 && twoR > 0 &&
            lat1.references.subsetOf(left.outputSet) && lon1.references.subsetOf(left.outputSet) &&
            lat2.references.subsetOf(right.outputSet) && lon2.references.subsetOf(right.outputSet) =>
          (lat1, lon1, lat2, lon2, r, twoR)
        // the SYMMETRIC orientation — haversine(r.lat, r.lon, l.lat, l.lon)
        // — is the same predicate (great-circle distance is symmetric in
        // its two points); without this case the rewrite silently declined
        // and the query ran as the full Cartesian product it was written
        // naively against
        case HaversinePredicate(lat1, lon1, lat2, lon2, r, twoR) if r > 0 && twoR > 0 &&
            lat1.references.subsetOf(right.outputSet) && lon1.references.subsetOf(right.outputSet) &&
            lat2.references.subsetOf(left.outputSet) && lon2.references.subsetOf(left.outputSet) =>
          (lat2, lon2, lat1, lon1, r, twoR)
      }
      hit match {
        case Some((lat1, lon1, lat2, lon2, r, twoR)) =>
          // great-circle distance >= (twoR/2)·Δlat_rad, so
          // Δlat_deg <= 360·r / (π·twoR) regardless of the radius unit;
          // 0.1% slack absorbs last-ulp rounding in the evaluated haversine
          // so a borderline pair can never land two bands apart
          val cellSize = math.max(360.0 * r / (math.Pi * twoR) * 1.001, 1e-9)
          val sLit = Literal(cellSize)
          // sin of the half great-circle angle the radius subtends — the
          // exact haversine bound on longitude separation (clamped: a radius
          // past the antipode bounds nothing)
          val sinHalf = math.sin(math.min(r / twoR, math.Pi / 2))

          def dbl(e: Expression): Expression = Cast(e, DoubleType)
          def latBandOf(lat: Expression): Expression = Floor(Divide(dbl(lat), sLit))

          // Ring width (deg) for band c: any in-radius pair whose joined
          // band is c has both latitudes within the band's ±1 reach
          // [(c−1)s, (c+2)s], so cos_min = cos(max |endpoint|) bounds both
          // cosines and Δλ <= 2·asin(sinHalf/cos_min)·(1+slack). Reach
          // touching a pole (cos_min <= sinHalf) → one 360° ring cell.
          def ringWidthOf(band: Expression): Expression = {
            val latLo = Multiply(dbl(Subtract(band, Literal(1L))), sLit)
            val latHi = Multiply(dbl(Add(band, Literal(2L))), sLit)
            val maxAbs = Least(Seq(Greatest(Seq(Abs(latLo), Abs(latHi))), Literal(90.0)))
            val cosMin = Cos(ToRadians(maxAbs))
            If(GreaterThan(cosMin, Literal(sinHalf)),
              Least(Seq(Literal(360.0),
                Multiply(
                  ToDegrees(Multiply(Literal(2.0), Asin(Divide(Literal(sinHalf), cosMin)))),
                  Literal(1.001)))),
              Literal(360.0))
          }
          // cells must be EVENLY sized: floor (not ceil) picks the cell
          // count so every cell is 360/ring >= w wide — a ceil'd count
          // leaves a truncated final cell narrower than w, and a pair
          // straddling the lon=0 seam through that sliver lands 2 cells
          // apart, invisible to the ±1 probe (silently dropped rows)
          def ringCountOf(band: Expression): Expression =
            Greatest(Seq(Floor(Divide(Literal(360.0), ringWidthOf(band))), Literal(1L)))
          // a 1- or 2-cell ring (near-pole band) COLLAPSES the ±1 deltas
          // modulo ring — the same pair would match the banded equi-join
          // 2-3 times and the exact filter above keeps every copy
          // (duplicated output rows). Joins.radiusJoin fails loudly on
          // this (its cell count is a static parameter); the rule's ring
          // is per-band dynamic and the rewrite must stay EXACT for any
          // input, so collapsed replicas emit a NULL cell INSIDE this one
          // expression (an inner equi-join never matches NULL, so the
          // replica drops) — ring 1 keeps only dRing 0, ring 2 keeps
          // {0, 1} (−1 ≡ +1 mod 2, and +1 still reaches the one neighbor
          // cell), ring ≥ 3 keeps all three. In-expression (not a
          // separate Filter) so the trig-heavy ring width is computed
          // once per row via codegen subexpression elimination; on the
          // LEFT side dRing is literal 0 and the guard constant-folds
          // away entirely.
          def ringCellOf(lon: Expression, band: Expression, dRing: Expression): Expression = {
            val ring = ringCountOf(band)
            val idx = Floor(Divide(
              Multiply(Pmod(dbl(lon), Literal(360.0)), Cast(ring, DoubleType)),
              Literal(360.0)))
            val keep = Or(
              GreaterThanOrEqual(ring, Literal(3L)),
              Or(And(EqualTo(ring, Literal(2L)), GreaterThanOrEqual(dRing, Literal(0L))),
                EqualTo(dRing, Literal(0L))))
            // pmod wraps the seam at the antimeridian
            If(keep, Pmod(Add(idx, dRing), ring), Literal(null, LongType))
          }

          val lBand = Alias(latBandOf(lat1), "_graft_band")()
          val lRing = Alias(ringCellOf(lon1, latBandOf(lat1), Literal(0L)), "_graft_ring")()
          val newLeft = Project(left.output ++ Seq(lBand, lRing), left)

          val dLat = AttributeReference("_graft_dlat", LongType)()
          val dRing = AttributeReference("_graft_dring", LongType)()
          def deltas = Explode(CreateArray(Seq(Literal(-1L), Literal(0L), Literal(1L))))
          val genLat = Generate(deltas, unrequiredChildIndex = Nil, outer = false,
            qualifier = None, generatorOutput = Seq(dLat), child = right)
          val genRing = Generate(deltas, unrequiredChildIndex = Nil, outer = false,
            qualifier = None, generatorOutput = Seq(dRing), child = genLat)
          // the replicated band feeds the ring width so both sides compute
          // identical keys for the band they actually meet in
          val rBandExpr = Add(latBandOf(lat2), dLat)
          val rBand = Alias(rBandExpr, "_graft_band_r")()
          // collapsed-replica dedup lives inside ringCellOf (NULL cell)
          val rRing = Alias(ringCellOf(lon2, rBandExpr, dRing), "_graft_ring_r")()
          val newRight = Project(right.output ++ Seq(rBand, rRing), genRing)

          val banded = Join(newLeft, newRight, Inner,
            Some(And(
              EqualTo(lBand.toAttribute, rBand.toAttribute),
              EqualTo(lRing.toAttribute, rRing.toAttribute))), JoinHint.NONE)
          // exact original predicate above the banded join; restore output
          Project(j.output, Filter(cond, banded))
        case None => j
      }
  }

  /** An equi-conjunct with keys on opposite sides already makes the join
    * hash-joinable — the rewrite would only add overhead (and fire on its
    * own output).
    */
  private def hasEquiCondition(left: LogicalPlan, right: LogicalPlan, cond: Expression): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
      case _ => false
    }
}

/** Install hooks.
  *
  * - `GraftExtensions`: for `spark.sql.extensions=graft.plans.GraftExtensions`
  *   or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * - `Graft.install(spark)`: attach to an already-running session via
  *   `experimental.extraOptimizations` (same optimizer batch).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RadiusJoinRule)
    // same scalar surface Graft.install registers at runtime, but available
    // to config-only users (spark.sql.extensions=graft.plans.GraftExtensions)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    Graft.sqlFunctions.foreach { case (name, className, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(className, name), builder))
    }
  }
}

/** The haversine formula as a raw Catalyst tree (same shape as
  * graft.functions.Geo.haversineKm builds via Columns) — needed where a
  * resolved Expression is required, e.g. FunctionRegistry lambdas.
  */
object GeoExprs {
  def haversineKm(lat1: Expression, lon1: Expression, lat2: Expression, lon2: Expression): Expression = {
    val dLat = Divide(ToRadians(Subtract(lat2, lat1)), Literal(2.0))
    val dLon = Divide(ToRadians(Subtract(lon2, lon1)), Literal(2.0))
    val a = Add(
      Pow(Sin(dLat), Literal(2.0)),
      Multiply(Multiply(Cos(ToRadians(lat1)), Cos(ToRadians(lat2))), Pow(Sin(dLon), Literal(2.0))))
    // same antipodal NaN clamp as Geo.haversine — the rewritten join's
    // exact predicate must evaluate bit-identically to the Column form
    Multiply(Literal(2 * graft.functions.Geo.EarthRadiusKm),
      Asin(Sqrt(Least(Seq(a, Literal(1.0))))))
  }
}

object Graft {
  def install(spark: SparkSession): SparkSession = {
    if (!spark.experimental.extraOptimizations.contains(RadiusJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RadiusJoinRule
    registerSqlFunctions(spark)
    spark
  }

  /** The engine's SQL scalar surface — ONE definition list
    * (name, implementing class for DESCRIBE FUNCTION, builder) consumed by
    * both registration paths ([[GraftExtensions]] at session build,
    * [[install]] at runtime) so the two can never drift.
    */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine_sim", "graft.functions.CosineSimExpr",
      (es: Seq[Expression]) => graft.functions.CosineSimExpr(es(0), es(1))),
    ("graft_dot", "graft.functions.DotProductExpr",
      (es: Seq[Expression]) => graft.functions.DotProductExpr(es(0), es(1))),
    ("graft_haversine_km", "graft.plans.GeoExprs",
      (es: Seq[Expression]) => GeoExprs.haversineKm(es(0), es(1), es(2), es(3))),
    ("graft_winnow", "graft.functions.WinnowMd5Expr",
      (es: Seq[Expression]) => graft.functions.WinnowMd5Expr(es(0),
        es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
    ("graft_ngrams", "graft.functions.NGramsExpr",
      (es: Seq[Expression]) => graft.functions.NGramsExpr(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("graft_normalize", "graft.functions.NormalizeExpr",
      (es: Seq[Expression]) => graft.functions.NormalizeExpr(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("graft_c4_stats", "graft.functions.C4StatsExpr",
      (es: Seq[Expression]) => graft.functions.C4StatsExpr(es(0))),
    ("graft_sorted_intersect_count", "graft.functions.SortedIntersectCountExpr",
      (es: Seq[Expression]) => graft.functions.SortedIntersectCountExpr(es(0), es(1))))

  /** Expose the engine's scalar functions to `spark.sql` users. */
  def registerSqlFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
