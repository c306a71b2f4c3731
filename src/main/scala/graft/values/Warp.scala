package graft.values

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warp value-semantics kernel.
  *
  * Re-expresses the reference's `Value` coercion algebra
  * (reference: WarpCore/Sources/Value.swift:47-756) as Catalyst `Column`
  * builders so every expression stays inside whole-stage codegen — no UDFs
  * on the hot path.
  *
  * Representation decision (SURVEY.md §7.0): native Spark column types;
  * `.empty` maps to SQL `null`. `.invalid` (an error value that never equals
  * anything) also maps to `null` at operator boundaries — the distinction is
  * preserved only inside expression trees where `ifError`/`isInvalid` is in
  * scope (see WarpFunctions.ifError).
  *
  * Coercion spec highlights (Value.swift:130-211, tests WarpCoreTests.swift:51-140):
  *  - arithmetic coerces both sides to double; `"13" + 37 == 50`
  *  - strings parse as numbers only when fully numeric, no leading space
  *  - booleans coerce to 1/0
  *  - dates never implicitly convert to number or string
  *  - `/0` is invalid (null), NaN/Inf are banned
  *  - `&` is string concatenation; `==` is type-lenient; empty sorts first
  */
object Warp {

  private val nullD = lit(null).cast(DoubleType)
  private val nullB = lit(null).cast(BooleanType)

  /** Static type of a column when Catalyst can already resolve it (literals
    * and trees built purely from literals resolve before analysis; plain
    * `col("x")` does not). Lets the coercion kernel skip the regex CASE tree
    * — both a constant-folding enabler and a codegen-size win. */
  def staticType(c: Column): Option[DataType] =
    scala.util.Try {
      val e = org.apache.spark.sql.GraftColumnAccess.expression(c)
      if (e.resolved) Some(e.dataType) else None
    }.toOption.flatten

  /** Coerce a column to double under Warp rules; non-coercible => null.
    * Compiles to the native [[graft.functions.WarpNumExpr]] — the type
    * dispatch happens once at analysis time (numeric child = bare cast,
    * string child = one strict-parse helper call), never a per-row CASE
    * tree. ANSI-safe by construction. Booleans coerce to 1/0
    * (Value.swift:176-190). */
  def num(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnAccess._
    column(graft.functions.WarpNumExpr(expression(c)))
  }

  /** Coerce to string (dates intentionally excluded upstream). */
  def str(c: Column): Column = c.cast(StringType)

  /** Coerce to boolean: true/nonzero => true; non-coercible => null
    * (Value.swift:176-190). Rides the same native coercion ("true"/"false"
    * spell 1/0 there), so it is one comparison over [[num]]. */
  def bool(c: Column): Column = staticType(c) match {
    case Some(BooleanType) => c
    case _                 => num(c) =!= 0.0
  }

  // ---- arithmetic (Value.swift:484-545): coerce to double, failure => null

  def add(a: Column, b: Column): Column = num(a) + num(b)
  def sub(a: Column, b: Column): Column = num(a) - num(b)
  def mul(a: Column, b: Column): Column = num(a) * num(b)

  /** Division: /0 => invalid (null), matching Value.swift:511-520. */
  def div(a: Column, b: Column): Column = {
    val d = num(b)
    when(d === 0.0, lit(null).cast(DoubleType)).otherwise(num(a) / d)
  }

  /** Modulo with /0 => null (Value.swift:522-531). */
  def mod(a: Column, b: Column): Column = {
    val d = num(b)
    when(d === 0.0, lit(null).cast(DoubleType)).otherwise(num(a) % d)
  }

  /** Power (Value.swift:533-543); NaN results (e.g. (-1)^0.5) => null. */
  def pow(a: Column, b: Column): Column = {
    val r = org.apache.spark.sql.functions.pow(num(a), num(b))
    when(isnan(r), lit(null).cast(DoubleType)).otherwise(r)
  }

  /** `&` string concatenation (Value.swift:503-509). */
  def cat(a: Column, b: Column): Column = concat(str(a), str(b))

  // ---- comparison (Value.swift:547-756)

  /** Type-lenient equality: numeric cross-compare when both coercible, else
    * string compare; empty == empty is TRUE (Value.swift:22-26). */
  def eq(a: Column, b: Column): Column = {
    val (na, nb) = (num(a), num(b))
    when(a.isNull && b.isNull, lit(true))
      .when(a.isNull || b.isNull, lit(false))
      .when(na.isNotNull && nb.isNotNull, na === nb)
      .otherwise(str(a) === str(b))
  }

  def neq(a: Column, b: Column): Column = !eq(a, b)

  /** Ordering key under Warp `<`: empty below every value (Value.swift:591-688).
    * For mixed compares we order numerically when both coerce, else as strings. */
  def lt(a: Column, b: Column): Column = cmp(a, b, (x, y) => x < y)
  def gt(a: Column, b: Column): Column = cmp(a, b, (x, y) => x > y)
  def lte(a: Column, b: Column): Column = cmp(a, b, (x, y) => x <= y)
  def gte(a: Column, b: Column): Column = cmp(a, b, (x, y) => x >= y)

  private def cmp(a: Column, b: Column, op: (Column, Column) => Column): Column = {
    val (na, nb) = (num(a), num(b))
    when(a.isNull && b.isNull, op(lit(0), lit(0)))
      .when(a.isNull, op(lit(0), lit(1)))   // empty is smallest
      .when(b.isNull, op(lit(1), lit(0)))
      .when(na.isNotNull && nb.isNotNull, op(na, nb))
      .otherwise(op(str(a), str(b)))
  }

  /** `~=` contains, case-insensitive (Value.swift:714-725). */
  def containsString(hay: Column, needle: Column): Column =
    lower(str(hay)).contains(lower(str(needle)))

  /** `~~=` contains, case-sensitive. */
  def containsStringStrict(hay: Column, needle: Column): Column =
    str(hay).contains(str(needle))

  /** `±=` regex match, case-insensitive (Value.swift:727-749). */
  def matchesRegex(s: Column, pattern: Column): Column =
    regexp_like(str(s), concat(lit("(?i)"), str(pattern)))

  /** `±±=` regex match, case-sensitive. */
  def matchesRegexStrict(s: Column, pattern: Column): Column =
    regexp_like(str(s), str(pattern))

  // ---- filter semantics: keep rows where expr is exactly true
  // (Data.swift:248-250): coerce to bool, null => false.
  def filterCond(c: Column): Column = coalesce(bool(c), lit(false))

  // ========================================================================
  // Error-tagged values (SURVEY §7.0 "scoped error tagging"): inside an
  // expression tree a Warp value is a PAIR of columns — the value and an
  // `invalid` flag — so `.empty` (SQL null, VALID) and `.invalid` (error)
  // stay distinct exactly as in the reference (Value.swift:22-45):
  //   isInvalid(empty) = false          (Function.swift:1509-1513)
  //   ifError(empty, fb) = empty        (Function.swift:1028-1029)
  //   and/or poison on INVALID only     (Function.swift:973-1010)
  //   1 + empty = invalid               (WarpCoreTests.swift:96-99)
  // At operator boundaries (calculate/filter output) invalid collapses to
  // null — [[WV.collapse]].
  // ========================================================================

  /** An expression-scoped Warp value: `v` the value (null = empty), `inv`
    * whether it is the invalid value, `dt` a statically-known input type
    * enabling the typed coercion fast path. */
  final case class WV(v: Column, inv: Column, dt: Option[DataType] = None) {
    /** Boundary collapse: invalid becomes plain null. */
    def collapse: Column = when(!inv, v)
  }
  object WV {
    def pure(c: Column, dt: Option[DataType] = None): WV = WV(c, lit(false), dt)
    def fromLiteral(x: Any): WV = x match {
      case null       => pure(lit(null), Some(NullType))
      case b: Boolean => pure(lit(b), Some(BooleanType))
      case l: Long    => pure(lit(l), Some(LongType))
      case i: Int     => pure(lit(i), Some(IntegerType))
      case d: Double  => pure(lit(d), Some(DoubleType))
      case s: String  => pure(lit(s), Some(StringType))
      case other      => pure(lit(other))
    }
  }

  def numW(w: WV): Column = num(w.v)
  def strW(w: WV): Column = w.v.cast(StringType)

  /** Arithmetic on tagged values: any invalid operand, or an operand with
    * no numeric form (including empty — WarpCoreTests.swift:96-99), makes
    * the result invalid.
    *
    * Tree-size note: the value is NOT wrapped in `when(!inv, ...)` — the
    * arithmetic already null-propagates, and every consumer (collapse,
    * comparisons, logic ops) gates on `inv` first. Omitting the guard
    * keeps the value branch free of the invalid tree, which bounds the
    * compiled expression's growth per nesting level (the guarded form
    * roughly quadruples per level and blows up deep formulas). */
  private def arith2(a: WV, b: WV)(f: (Column, Column) => Column): WV = {
    val na = numW(a); val nb = numW(b)
    val inv = a.inv || b.inv || na.isNull || nb.isNull
    WV(f(na, nb), inv, Some(DoubleType))
  }
  def addW(a: WV, b: WV): WV = arith2(a, b)(_ + _)
  def subW(a: WV, b: WV): WV = arith2(a, b)(_ - _)
  def mulW(a: WV, b: WV): WV = arith2(a, b)(_ * _)
  /** Division: /0 => invalid (Value.swift:511-520). Value branch
    * unguarded like [[arith2]] — a /0 yields Infinity in the value column
    * but `inv` is true, and every consumer gates on `inv`. */
  def divW(a: WV, b: WV): WV = {
    val na = numW(a); val nb = numW(b)
    val inv = a.inv || b.inv || na.isNull || nb.isNull || nb === 0.0
    WV(when(nb =!= 0.0, na / nb), inv, Some(DoubleType))
  }
  def modW(a: WV, b: WV): WV = {
    val na = numW(a); val nb = numW(b)
    val inv = a.inv || b.inv || na.isNull || nb.isNull || nb === 0.0
    WV(when(nb =!= 0.0, na % nb), inv, Some(DoubleType))
  }
  /** Power; NaN results (e.g. (-1)^0.5) are invalid (Value.swift:533-543). */
  def powW(a: WV, b: WV): WV = {
    val na = numW(a); val nb = numW(b)
    val r = org.apache.spark.sql.functions.pow(na, nb)
    val inv = a.inv || b.inv || na.isNull || nb.isNull || isnan(r)
    WV(nanToNullD(r), inv, Some(DoubleType))
  }
  private def nanToNullD(c: Column): Column = when(!isnan(c), c)
  /** `&` concatenation: operands without a string form (empty, invalid)
    * poison the result (Value.swift:503-509 via stringValue). */
  def catW(a: WV, b: WV): WV = {
    val sa = strW(a); val sb = strW(b)
    val inv = a.inv || b.inv || sa.isNull || sb.isNull
    WV(concat(sa, sb), inv, Some(StringType))
  }

  // Comparisons never produce invalid: an invalid operand compares FALSE
  // ("invalid equals nothing, not even itself", Value.swift:547-551); for
  // <> it compares TRUE (Value.swift:583-586).
  def eqW(a: WV, b: WV): WV =
    WV(when(a.inv || b.inv, lit(false)).otherwise(eq(a.v, b.v)), lit(false), Some(BooleanType))
  def neqW(a: WV, b: WV): WV =
    WV(when(a.inv || b.inv, lit(true)).otherwise(neq(a.v, b.v)), lit(false), Some(BooleanType))
  private def cmpW(a: WV, b: WV, op: (Column, Column) => Column): WV =
    WV(when(a.inv || b.inv, lit(false)).otherwise(cmp(a.v, b.v, op)), lit(false), Some(BooleanType))
  def ltW(a: WV, b: WV): WV = cmpW(a, b, (x, y) => x < y)
  def gtW(a: WV, b: WV): WV = cmpW(a, b, (x, y) => x > y)
  def lteW(a: WV, b: WV): WV = cmpW(a, b, (x, y) => x <= y)
  def gteW(a: WV, b: WV): WV = cmpW(a, b, (x, y) => x >= y)
  /** String-match operators: operands without a string form => invalid
    * (Value.swift:714-749). */
  private def strMatch(a: WV, b: WV)(f: (Column, Column) => Column): WV = {
    val sa = strW(a); val sb = strW(b)
    val inv = a.inv || b.inv || sa.isNull || sb.isNull
    WV(when(!inv, f(sa, sb)), inv, Some(BooleanType))
  }
  def containsW(a: WV, b: WV): WV = strMatch(a, b)((h, n) => lower(h).contains(lower(n)))
  def containsStrictW(a: WV, b: WV): WV = strMatch(a, b)(_ contains _)
  def matchesW(a: WV, b: WV): WV =
    strMatch(a, b)((s, p) => regexp_like(s, concat(lit("(?i)"), p)))
  def matchesStrictW(a: WV, b: WV): WV = strMatch(a, b)(regexp_like(_, _))

  // ---- logic group (Function.swift:973-1029,1509-1513)

  /** Lenient `== true` used by and/or: true for bool true / 1 / "1";
    * empty and non-numeric strings are simply NOT true (no poison). */
  private def eqTrueW(w: WV): Column = coalesce(numW(w) === 1.0, lit(false))

  /** and: any INVALID argument poisons; empty/false/non-true => false. */
  def andW(args: Seq[WV]): WV = {
    val inv = args.map(_.inv).reduce(_ || _)
    WV(when(!inv, args.map(eqTrueW).reduce(_ && _)), inv, Some(BooleanType))
  }
  /** or: any INVALID argument poisons; else true iff any arg == true. */
  def orW(args: Seq[WV]): WV = {
    val inv = args.map(_.inv).reduce(_ || _)
    WV(when(!inv, args.map(eqTrueW).reduce(_ || _)), inv, Some(BooleanType))
  }

  /** boolValue as a nullable column (null = "no boolean form" => invalid):
    * bools pass through; integral values compare ==1; empty and doubles
    * have no boolean form (Value.swift:199-211). Deviation from the
    * reference (documented): the strings "true"/"false" are accepted. */
  def boolValW(w: WV): Column = w.dt.orElse(staticType(w.v)) match {
    case Some(BooleanType) => w.v
    case Some(LongType | IntegerType | ShortType | ByteType) =>
      w.v.cast(LongType) === 1L
    // doubles/decimals have NO boolean form (Value.swift:205): invalid
    case Some(DoubleType | FloatType) | Some(_: DecimalType) => nullB
    case _ =>
      val s = lower(w.v.cast(StringType))
      when(w.v.isNull, nullB)
        .when(s === "true", lit(true))
        .when(s === "false", lit(false))
        .when(s.rlike("^[+-]?\\d+$"), s.cast(DoubleType) === 1.0)
        .otherwise(nullB)
  }

  def notW(x: WV): WV = {
    val bv = boolValW(x)
    val inv = x.inv || bv.isNull
    WV(when(!inv, !bv), inv, Some(BooleanType))
  }
  def xorW(a: WV, b: WV): WV = {
    val ba = boolValW(a); val bb = boolValW(b)
    val inv = a.inv || b.inv || ba.isNull || bb.isNull
    WV(when(!inv, ba =!= bb), inv, Some(BooleanType))
  }
  /** if: condition without a boolean form => invalid; else the chosen
    * branch passes through untouched (including its own invalidity). */
  def ifW(c: WV, t: WV, f: WV): WV = {
    val bv = boolValW(c)
    val condInv = c.inv || bv.isNull
    WV(when(!condInv, when(bv, t.v).otherwise(f.v)),
       condInv || when(coalesce(bv, lit(false)), t.inv).otherwise(f.inv),
       if (t.dt == f.dt) t.dt else None)
  }
  /** ifError: fallback only when the value is INVALID; empty stays empty
    * (Function.swift:1028-1029). */
  def ifErrorW(v: WV, fb: WV): WV =
    WV(when(v.inv, fb.v).otherwise(v.v),
       when(v.inv, fb.inv).otherwise(lit(false)),
       if (v.dt == fb.dt) v.dt else None)
  /** coalesce: first VALID NON-EMPTY argument, else empty
    * (Function.swift:985-991). */
  def coalesceW(args: Seq[WV]): WV =
    args.foldRight(WV.pure(lit(null), Some(NullType))) { (a, acc) =>
      val take = !a.inv && a.v.isNotNull
      WV(when(take, a.v).otherwise(acc.v), when(take, lit(false)).otherwise(acc.inv), None)
    }
  def isEmptyW(x: WV): WV = WV(!x.inv && x.v.isNull, lit(false), Some(BooleanType))
  def isInvalidW(x: WV): WV = WV(x.inv, lit(false), Some(BooleanType))
  def inW(v: WV, set: Seq[WV]): WV = {
    val anyEq = set.map(s => eqW(v, s).v).reduce(_ || _)
    WV(anyEq, lit(false), Some(BooleanType))
  }

  /** Generic lift for the closed scalar function library: arguments'
    * invalidity propagates, and a null result from non-null coercion is
    * invalid (the reference's functions return .invalid whenever
    * double/stringValue is nil — e.g. UPPER(empty) is invalid,
    * Function.swift:956-967). */
  def liftCallW(args: Seq[WV])(f: Seq[Column] => Column): WV = {
    val r = f(args.map(_.v))
    val inv = args.map(_.inv).foldLeft(lit(false))(_ || _) || r.isNull
    WV(r, inv, None)
  }
}
