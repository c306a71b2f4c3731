package graft

import org.apache.spark.sql.functions._
import graft.functions.{WarpFunctions => WF, WarpAggregates => WA}

/** Per-function golden tests mirroring the reference's exhaustive function
  * switch (reference: WarpCoreTests.swift:158-585). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def eval(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).get(0)

  test("logic: empty is valid — never poisons and/or (Function.swift:973-1010)") {
    assert(eval(WF.fnAnd(lit(true), lit(true))) == true)
    assert(eval(WF.fnAnd(lit(true), lit(null).cast("boolean"))) == false) // empty != true
    assert(eval(WF.fnOr(lit(false), lit(null).cast("boolean"))) == false)
    assert(eval(WF.fnOr(lit(true), lit(null).cast("boolean"))) == true)
    assert(eval(WF.fnXor(lit(true), lit(false))) == true)
    assert(eval(WF.fnNot(lit(false))) == true)
    assert(eval(WF.fnIf(lit(true), lit("y"), lit("n"))) == "y")
  }

  test("ifError passes empty through; isEmpty/isInvalid (Function.swift:1028,1509-1513)") {
    // plain columns carry no invalid value: ifError is the identity and
    // empty (null) flows through — the WV track has the full semantics
    assert(eval(WF.fnIfError(lit(null).cast("int"), lit(7))) == null)
    assert(eval(WF.fnIsEmpty(lit(null).cast("int"))) == true)
    assert(eval(WF.fnIsInvalid(lit(null).cast("int"))) == false) // empty is VALID
  }

  test("mid: start past end invalid; length clamps (Function.swift:1137-1150)") {
    assert(eval(WF.fnMid(lit("abcdef"), lit(1), lit(99))) == "bcdef") // clamps
    assert(eval(WF.fnMid(lit("abc"), lit(3), lit(2))) == "")          // start == len
    assert(eval(WF.fnMid(lit("abc"), lit(4), lit(2))) == null)        // start > len
  }

  test("math: ln/log domain, round half-up, floor/ceil, sign") {
    assert(eval(WF.fnLn(lit(-1))) == null)
    assert(eval(WF.fnLog(lit(8), lit(2))) == 3.0)
    assert(eval(WF.fnRound(lit(2.5))) == 3.0)
    assert(eval(WF.fnRoundTo(lit(2.345), 2)) == 2.35)
    assert(eval(WF.fnFloor(lit(2.9))) == 2.0)
    assert(eval(WF.fnCeiling(lit(2.1))) == 3.0)
    assert(eval(WF.fnSign(lit(-3.0))) == -1.0)
    assert(eval(WF.fnSum(lit(1), lit("2"), lit(true))) == 4.0) // n-ary with coercion
    assert(eval(WF.fnMin(lit(3), lit(1), lit(2))) == 1.0)
  }

  test("normalInverse matches reference quantiles (WarpCoreTests.swift:1051-1057)") {
    val p50 = eval(WF.fnNormalInverse(lit(0.5), lit(0.0), lit(1.0))).asInstanceOf[Double]
    val p975 = eval(WF.fnNormalInverse(lit(0.975), lit(0.0), lit(1.0))).asInstanceOf[Double]
    assert(math.abs(p50) < 1e-8)
    assert(math.abs(p975 - 1.959963984540054) < 1e-6)
    assert(eval(WF.fnNormalInverse(lit(1.5), lit(0.0), lit(1.0))) == null)
  }

  test("string: left/right invalid past length (Function.swift:1115-1135)") {
    assert(eval(WF.fnLeft(lit("abc"), lit(2))) == "ab")
    assert(eval(WF.fnLeft(lit("abc"), lit(4))) == null)
    assert(eval(WF.fnRight(lit("abc"), lit(2))) == "bc")
    assert(eval(WF.fnRight(lit("abc"), lit(9))) == null)
    assert(eval(WF.fnMid(lit("abcdef"), lit(1), lit(3))) == "bcd") // 0-based start
  }

  test("string: case, trim, substitute, levenshtein, concat") {
    assert(eval(WF.fnUppercase(lit("aB"))) == "AB")
    assert(eval(WF.fnCapitalize(lit("hello world"))) == "Hello World")
    assert(eval(WF.fnTrim(lit("  x "))) == "x")
    assert(eval(WF.fnSubstitute(lit("a-b-c"), lit("-"), lit("+"))) == "a+b+c")
    assert(eval(WF.fnLevenshtein(lit("kitten"), lit("sitting"))) == 3)
    assert(eval(WF.fnConcat(lit(1), lit("x"), lit(true))) == "1xtrue")
    assert(eval(WF.fnUrlEncode(lit("a b&c"))) == "a+b%26c")
  }

  test("dates: excel serial round-trip (Date.swift:25-38,89-108)") {
    // 1970-01-01 == excel serial 25569
    assert(eval(WF.fnToExcelDate(to_timestamp(lit("1970-01-01 00:00:00")))) == 25569.0)
    val rt = eval(date_format(WF.fnFromExcelDate(lit(25569.0)), "yyyy-MM-dd"))
    assert(rt == "1970-01-01")
  }

  test("dates: unix round-trip, utcDate, duration, after") {
    assert(eval(WF.fnToUnixTime(WF.fnFromUnixTime(lit(1234567890)))) == 1234567890L)
    assert(eval(date_format(WF.fnUtcDate(lit(2020), lit(2), lit(29)), "yyyy-MM-dd")) == "2020-02-29")
    val d = eval(WF.fnDuration(
      to_timestamp(lit("2020-01-01 00:00:00")), to_timestamp(lit("2020-01-01 01:00:00"))))
    assert(d == 3600.0)
    assert(eval(date_format(WF.fnAfter(to_timestamp(lit("2020-01-01 00:00:00")), lit(86400)),
      "yyyy-MM-dd")) == "2020-01-02")
  }

  test("lists: nth (1-based), valueForKey over pack-pairs, glue, items") {
    assert(eval(WF.fnNth(array(lit("a"), lit("b")), lit(2))) == "b")
    // ANSI edges: out-of-range / zero index => invalid, not a throw
    assert(eval(WF.fnNth(array(lit("a"), lit("b")), lit(5))) == null)
    assert(eval(WF.fnNth(array(lit("a"), lit("b")), lit(0))) == null)
    // string indexes coerce like every Warp numeric argument
    assert(eval(WF.fnNth(array(lit("a"), lit("b")), lit("2"))) == "b")
    assert(eval(WF.fnNth(array(lit("a"), lit("b")), lit("abc"))) == null)
    // key in last position of an odd-length list has no value => invalid
    assert(eval(WF.fnValueForKey(array(lit("k1"), lit("v1"), lit("k2")), lit("k2"))) == null)
    // a VALUE equal to a later key must not shadow it: scan key positions only
    assert(eval(WF.fnValueForKey(
      array(lit("name"), lit("x"), lit("x"), lit("42")), lit("x"))) == "42")
    // CHOOSE: out-of-range index => invalid, not an ANSI throw
    assert(eval(WF.fnChoose(lit(4), lit("a"), lit("b"))) == null)
    assert(eval(WF.fnChoose(lit(2), lit("a"), lit("b"))) == "b")
    // scalar AVERAGE uses the reducer semantics: valid values only
    assert(eval(WF.fnAverage(lit(1.0), lit(null).cast("double"), lit(3.0))) == 2.0)
    assert(eval(WF.fnAverage(lit(null).cast("double"))) == null)
    assert(eval(WF.fnValueForKey(array(lit("k1"), lit("v1"), lit("k2"), lit("v2")), lit("k2"))) == "v2")
    assert(eval(WF.fnValueForKey(array(lit("k1"), lit("v1")), lit("v1"))) == null) // values aren't keys
    assert(eval(WF.fnItems(array(lit(1), lit(2), lit(3)))) == 3)
    assert(eval(WF.fnGlue(array(lit("a"), lit("b")), "-")) == "a-b")
    // dynamic-separator glue matches, and a null element invalidates the
    // WHOLE result instead of silently restarting accumulation at "b"
    assert(eval(WF.fnGlueCol(array(lit("a"), lit("b"), lit("c")), lit("-"))) == "a-b-c")
    assert(eval(WF.fnGlueCol(
      array(lit("a"), lit(null).cast("string"), lit("b")), lit("-"))) == null)
    // a null SEPARATOR has the same restart-accumulation hazard: invalid
    assert(eval(WF.fnGlueCol(
      array(lit("a"), lit("b"), lit("c")), lit(null).cast("string"))) == null)
  }

  test("pack escape round-trip (Value.swift:266-380, WarpCoreTests.swift:134-139)") {
    assert(eval(WF.packEscape(lit("a,b$c"))) == "a$1b$0c")
    assert(eval(WF.packUnescape(WF.packEscape(lit("a,b$c")))) == "a,b$c")
    assert(eval(WF.fnPackList(array(lit("x,y"), lit("z")))) == "x$1y,z")
    val back = eval(WF.fnUnpackList(lit("x$1y,z"))).asInstanceOf[scala.collection.Seq[String]]
    assert(back.toSeq == Seq("x,y", "z"))
  }

  test("encoding: base64/hex round-trips, byte count") {
    assert(eval(WF.fnBase64Decode(WF.fnBase64Encode(lit("hi"))).cast("string")) == "hi")
    assert(eval(WF.fnHexEncode(lit("AB"))) == "4142")
    assert(eval(WF.fnNumberOfBytes(WF.fnEncodeString(lit("héllo")))) == 6)
    assert(eval(WF.fnParseNumber(lit("1.234,56"), ".", ",")) == 1234.56)
  }

  test("hilbert curve round-trips (Value.swift:1168-1261)") {
    for (d <- Seq(0L, 5L, 13L, 255L)) {
      val x = eval(WF.fnHilbertDToX(lit(16), lit(d))).asInstanceOf[Long]
      val y = eval(WF.fnHilbertDToY(lit(16), lit(d))).asInstanceOf[Long]
      assert(eval(WF.fnHilbertXYToD(lit(16), lit(x), lit(y))) == d)
    }
  }

  test("powerUp/powerDown (Value.swift:1129-1166)") {
    assert(eval(WF.fnPowerUp(lit(5.0), lit(2.0))) == 8.0)
    assert(eval(WF.fnPowerDown(lit(5.0), lit(2.0))) == 4.0)
    assert(eval(WF.fnPowerUp(lit(8.0), lit(2.0))) == 8.0) // exact power stays
  }

  test("aggregates: warp count semantics (WarpCoreTests.swift:206-208)") {
    val df = Seq("1", "2", "x", null).toDF("v")
    val r = df.agg(
      WA.warpCount(col("v")).as("numeric"),
      WA.warpCountAll().as("all"),
      WA.warpSum(col("v")).as("sum")).collect()(0)
    assert(r.getAs[Long]("numeric") == 2) // only numeric-convertible
    assert(r.getAs[Long]("all") == 4)     // everything
    assert(r.getAs[Double]("sum") == 3.0)
  }

  test("aggregates: medianLow/High, variance invalid on n=1 (Function.swift:2249)") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val r = df.agg(
      WA.warpMedian(col("v")).as("m"),
      WA.warpMedianLow(col("v")).as("lo"),
      WA.warpMedianHigh(col("v")).as("hi")).collect()(0)
    assert(r.getAs[Double]("m") == 2.5)
    assert(r.getAs[Double]("lo") == 2.0)
    assert(r.getAs[Double]("hi") == 3.0)
    val one = Seq(5.0).toDF("v").agg(WA.warpVarianceSample(col("v")).as("s")).collect()(0)
    assert(one.isNullAt(0))
  }

  test("warpMedianApprox tracks exact median within sketch tolerance") {
    // real data, real groups: per-returnflag median of l_quantity — the
    // approx sketch must land within 1 quantity unit of the exact median
    val l = sf("lineitem")
    val rows = l.groupBy("l_returnflag").agg(
      WA.warpMedian(col("l_quantity")).as("exact"),
      WA.warpMedianApprox(col("l_quantity")).as("approx")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Double]("exact"); val a = r.getAs[Double]("approx")
      assert(math.abs(e - a) <= 1.0, s"approx $a vs exact $e")
    }
  }

  test("bivariate aggregates: track built-ins, honor pairwise nulls and degenerates") {
    val rnd = new scala.util.Random(3)
    val pts = Seq.tabulate(500)(i => (i % 3, i.toDouble, 2.5 * i + rnd.nextGaussian() * 10))
    val df = pts.toDF("g", "x", "y")
    val rows = df.groupBy("g").agg(
      WA.warpCorr(col("x"), col("y")).as("c"),
      WA.warpCovarSample(col("x"), col("y")).as("cv"),
      WA.warpSlope(col("x"), col("y")).as("sl"),
      WA.warpIntercept(col("x"), col("y")).as("ic"),
      WA.warpR2(col("x"), col("y")).as("r2"),
      corr(col("x"), col("y")).as("bc"),
      covar_samp(col("x"), col("y")).as("bcv"),
      regr_slope(col("y"), col("x")).as("bsl"),
      regr_intercept(col("y"), col("x")).as("bic")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("c") - r.getAs[Double]("bc")) < 1e-9)
      // decimal(28,6) accumulation quantizes the xy products at 1e-6;
      // the intercept amplifies that by the sum magnitudes
      assert(math.abs(r.getAs[Double]("cv") - r.getAs[Double]("bcv")) < 1e-5)
      assert(math.abs(r.getAs[Double]("sl") - r.getAs[Double]("bsl")) < 1e-9)
      assert(math.abs(r.getAs[Double]("ic") - r.getAs[Double]("bic")) < 1e-4)
      val c = r.getAs[Double]("c")
      assert(math.abs(r.getAs[Double]("r2") - c * c) == 0.0)
    }
    // pairwise nulls: the (3,?) and (?,30) rows drop from every moment
    val withNulls = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (2.0, 20.0), (3.0, null), (null, 30.0), (4.0, 40.0))
      .toDF("x", "y")
    val pn = withNulls.agg(WA.warpSlope(col("x"), col("y")).as("sl")).head()
    assert(math.abs(pn.getDouble(0) - 10.0) < 1e-12)
    // degenerate: constant x -> null slope/corr; single pair -> null
    val const = Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y")
      .agg(WA.warpSlope(col("x"), col("y")), WA.warpCorr(col("x"), col("y"))).head()
    assert(const.isNullAt(0) && const.isNullAt(1))
    val single = Seq((1.0, 1.0)).toDF("x", "y")
      .agg(WA.warpCovarSample(col("x"), col("y"))).head()
    assert(single.isNullAt(0))
    // out-of-domain magnitudes (>= 1e12 overflows the DECIMAL(18,6)
    // factor cast to null): the whole group goes null LOUDLY instead of
    // silently excluding those rows from sxx/sxy while count keeps them
    val wide = Seq((1.0, 10.0), (2.0, 20.0), (5e12, 30.0)).toDF("x", "y")
      .agg(WA.warpSlope(col("x"), col("y")), WA.warpCorr(col("x"), col("y")),
        WA.warpCovarSample(col("x"), col("y"))).head()
    assert(wide.isNullAt(0) && wide.isNullAt(1) && wide.isNullAt(2))
    // just inside the domain still computes
    val inD = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0)).toDF("x", "y")
      .agg(WA.warpSlope(col("x"), col("y"))).head()
    assert(math.abs(inD.getDouble(0) - 10.0) < 1e-9)
  }

  test("SumProduct128 moments are bit-identical to the decimal formulation") {
    // r15 (VERDICT r14 item 3): the two-long 128-bit accumulator must
    // reproduce sum(cast(x as DECIMAL(18,6)) * cast(y as DECIMAL(18,6)))
    // cast double BIT-exactly — negatives, fractions, half-up quantization
    // edges, nulls, many groups (exercising merge paths) included
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(7)
    val pts = Seq.tabulate(4000) { i =>
      val x = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(9))
      val y = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(9))
      (i % 7, x, y)
    } ++ Seq((0, 0.0000005, 1.0), (1, -0.0000005, 1.0), // half-up edges
      (2, 123.4567895, -0.1234565))
    val df = pts.toDF("g", "x", "y").repartition(13)
    val D2 = DecimalType(18, 6)
    def decRef(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      sum(a.cast(D2) * b.cast(D2)).cast("double")
    val rows = df.groupBy("g").agg(
      WA.warpCorr(col("x"), col("y")).as("c"),
      WA.warpSlope(col("x"), col("y")).as("sl"),
      WA.warpIntercept(col("x"), col("y")).as("ic"),
      WA.warpCovarSample(col("x"), col("y")).as("cv"),
      // the inline decimal reference, same closed forms
      count(col("x")).cast("double").as("n"),
      WA.dsum(col("x")).as("sx"), WA.dsum(col("y")).as("sy"),
      decRef(col("x"), col("x")).as("sxx"),
      decRef(col("x"), col("y")).as("sxy")).collect()
    rows.foreach { r =>
      val n = r.getAs[Double]("n"); val sx = r.getAs[Double]("sx")
      val sy = r.getAs[Double]("sy"); val sxx = r.getAs[Double]("sxx")
      val sxy = r.getAs[Double]("sxy")
      val den = n * sxx - sx * sx
      assert(r.getAs[Double]("sl") == (n * sxy - sx * sy) / den) // bit-equal
      assert(r.getAs[Double]("ic") == (sy - sx * (n * sxy - sx * sy) / den) / n)
      assert(r.getAs[Double]("cv") == (sxy - sx * sy / n) / (n - 1.0))
    }
    // plan shape: the product moments run as a codegen'd HashAggregate
    // over primitive long buffer slots — no Decimal(37,12) sum anywhere
    val plan = df.groupBy("g").agg(WA.warpSlope(col("x"), col("y")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("sum_product_128"), plan.take(2000))
    assert(!plan.contains("(37,12)"), plan.take(2000))
  }

  // Groups at the DECIMAL(38,12) bound, with the SumProduct128 kernel and the
  // decimal sum it stands in for, and the groups that land on or past 1e38.
  private def boundCase() = {
    // x = y = 999999999999: each x6·y6 is 1e36 − 2e24 + 1e12 (unscaled,
    // scale 12), and 100 of them sum to 1e38 − 2e26 + 1e14, just inside
    // 38 digits. One more term of 2e26 − 1e14 lands exactly on 1e38, one
    // of 2e26 just past it — both below the 128-bit limit of ~1.7e38.
    // All terms of a group share one sign, so no partial sum exceeds the
    // group's total, whatever the partitioning.
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    import org.apache.spark.sql.types.DecimalType
    val D2 = DecimalType(18, 6)
    val big = 999999999999.0
    val edges = Seq("below" -> Nil, "at" -> Seq((1e8, 1999999.999999)),
      "above" -> Seq((1e7, 2e7)))
    val pts = for ((edge, extra) <- edges; sign <- Seq(1.0, -1.0);
                   (x, y) <- Seq.fill(100)((big, big)) ++ extra)
      yield (s"$edge$sign", x, sign * y)
    val df = pts.toDF("g", "x", "y").repartition(5)
    def unscaled(c: org.apache.spark.sql.Column) = C(UnscaledValue(E(c.cast(D2))))
    // built per use: the kernel reads the ANSI mode when it is built
    def kernel = C(graft.functions.SumProduct128(E(unscaled(col("x"))), E(unscaled(col("y"))))
      .toAggregateExpression()).as("kernel")
    def decimal = sum(col("x").cast(D2) * col("y").cast(D2)).cast("double").as("decimal")
    val outOfBound = for (edge <- Seq("at", "above"); sign <- Seq("1.0", "-1.0")) yield edge + sign
    (df, () => kernel, () => decimal, outOfBound)
  }

  test("SumProduct128 goes NULL at the DECIMAL(38,12) bound, as the decimal form does") {
    val (df, kernel, decimal, outOfBound) = boundCase()
    // ANSI off: the decimal sum nulls past the bound, and so does the kernel
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val rows = try df.groupBy("g").agg(kernel(), decimal()).collect()
      finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    val got = rows.map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got.size == 6)
    got.foreach { case (g, (k, d)) => assert(k == d, g) }
    assert(got("below1.0")._2.isDefined && got("below-1.0")._2.isDefined)
    outOfBound.foreach(g => assert(got(g)._1.isEmpty, g))
  }

  test("SumProduct128 raises at the DECIMAL(38,12) bound under ANSI, as the decimal form does") {
    val (df, kernel, decimal, outOfBound) = boundCase()
    // the session's own mode, ANSI on (Spark 4's default): in-bound groups
    // agree, out-of-bound groups raise in both forms (the decimal form raises
    // the precision error if its overflowed partial skipped a row buffer)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    def result(g: String, c: org.apache.spark.sql.Column): Either[String, Any] =
      try Right(df.filter(col("g") === g).groupBy("g").agg(c).head().get(1)) catch {
        case e: Exception => Left(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).collectFirst {
            case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
          }.getOrElse(e.toString))
      }
    for (g <- Seq("below", "at", "above").flatMap(e => Seq(e + "1.0", e + "-1.0"))) {
      val (k, d) = (result(g, kernel()), result(g, decimal()))
      if (!outOfBound.contains(g)) assert(k.isRight && k == d, g)
      else assert(k == Left("ARITHMETIC_OVERFLOW") && d.left.exists(Set("ARITHMETIC_OVERFLOW",
        "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")), s"$g: kernel $k, decimal $d")
    }
  }

  test("aggregates: all-null groups yield null medians, not index errors") {
    val df = Seq(("g", null.asInstanceOf[java.lang.Double]),
                 ("g", null.asInstanceOf[java.lang.Double])).toDF("k", "v")
    val r = df.groupBy("k").agg(
      WA.warpMedianLow(col("v")).as("lo"),
      WA.warpMedianHigh(col("v")).as("hi"),
      WA.warpMedianPack(col("v")).as("pk")).collect()(0)
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("aggregates: variance coerces mixed-type columns instead of ANSI-throwing") {
    val df = Seq(("g", "1"), ("g", "abc"), ("g", "3")).toDF("k", "v")
    val r = df.groupBy("k").agg(WA.warpVarianceSample(col("v")).as("s")).collect()(0)
    assert(r.getDouble(1) == 2.0) // variance of {1,3}; "abc" skipped
  }

  test("aggregates: minimumCount suppresses small groups (Aggregation.swift:103-134)") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "v")
    val r = df.groupBy("g").agg(WA.minimumCount(WA.dsum(col("v")), col("v"), 2).as("s"))
      .orderBy("g").collect()
    assert(r(0).getAs[Double]("s") == 3.0) // a: 2 values => kept
    assert(r(1).isNullAt(1))               // b: 1 value => suppressed
  }
}
