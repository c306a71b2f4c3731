package graft

import org.scalacheck.Gen
import graft.formula.Formula
import graft.formula.Formula._

/** Property-based invariants (ScalaCheck): formula round-trip over random
  * ASTs (mirrors the reference's hand-picked round-trip tests at
  * WarpCoreTests.swift:670-694, but over the whole expression space),
  * pack-escape and numeric-parse laws, header dedup uniqueness. */
class PropertySpec extends SparkSpec {

  /** Offline cache ships scalacheck without the scalatest bridge: sample
    * generators directly. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  // ---- random formula ASTs (parser-reachable subset: integer/double/
  // string/bool literals, sibling refs, binary ops, calls, lists)

  private val genName: Gen[String] =
    for { h <- Gen.alphaChar; t <- Gen.listOfN(4, Gen.alphaNumChar) } yield (h :: t).mkString

  private val genLit: Gen[Expr] = Gen.oneOf(
    Gen.choose(-999999L, 999999L).map(Lit(_)),
    Gen.choose(-1e6, 1e6).map(d => Lit(math.rint(d * 100) / 100.0)),
    Gen.alphaNumStr.map(s => Lit(s.take(8))),
    // escape-hostile strings: backslashes and quotes in any position must
    // survive the unparse/reparse cycle
    Gen.listOfN(4, Gen.oneOf('a', '\\', '"', 'z')).map(cs => Lit(cs.mkString)),
    Gen.oneOf(Lit(true), Lit(false)))

  private def genExpr(depth: Int): Gen[Expr] =
    if (depth <= 0) Gen.oneOf(genLit, genName.map(Sibling(_)))
    else Gen.frequency(
      3 -> genLit,
      3 -> genName.map(Sibling(_)),
      4 -> (for {
        op <- Gen.oneOf("+", "-", "*", "/", "&", "=", "<", ">", "<=", ">=", "<>")
        l <- genExpr(depth - 1); r <- genExpr(depth - 1)
      } yield Bin(op, l, r)),
      2 -> (for {
        f <- Gen.oneOf("UPPER", "LOWER", "TRIM", "ABS", "SQRT", "LENGTH")
        a <- genExpr(depth - 1)
      } yield Call(f, List(a))),
      1 -> Gen.listOfN(3, genExpr(depth - 1)).map(ListLit(_)))

  // ---- the FULL expression space (every AST node, every operator, both
  // locales) for the locale round-trip law below

  private val genAtomFull: Gen[Expr] = Gen.oneOf(
    genLit,
    Gen.oneOf(Lit(null), InvalidLit, Identity),
    // non-whole doubles (x.5 is binary-exact and never prints an exponent
    // at this magnitude): the strict-equality probe for decimal-separator
    // localization
    Gen.choose(-999999L, 999999L).map(l => Lit(l + 0.5)),
    Gen.choose(0L, 4000000L).map(l => TimestampLit(l.toDouble)),
    Gen.choose(0L, 999999L).map(l => TimestampLit(l + 0.5)),
    genName.map(Sibling(_)),
    genName.map(Foreign(_)))

  private def genExprFull(depth: Int): Gen[Expr] =
    if (depth <= 0) genAtomFull
    else Gen.frequency(
      4 -> genAtomFull,
      4 -> (for {
        op <- Gen.oneOf("+", "-", "*", "/", "%", "^", "&", "=", "<", ">",
          "<=", ">=", "<>", "~=", "~~=", "±=", "±±=")
        l <- genExprFull(depth - 1); r <- genExprFull(depth - 1)
      } yield Bin(op, l, r)),
      2 -> (for {
        f <- Gen.oneOf("UPPER", "MIN", "MAX", "CONCAT", "IF", "ABS")
        n <- Gen.choose(0, 3)
        as <- Gen.listOfN(n, genExprFull(depth - 1))
      } yield Call(f, as)),
      1 -> Gen.choose(0, 3).flatMap(n =>
        Gen.listOfN(n, genExprFull(depth - 1)).map(ListLit(_))),
      1 -> (for { t <- genExprFull(depth - 1); i <- genExprFull(depth - 1) }
        yield Index(t, i)),
      1 -> (for { t <- genExprFull(depth - 1); k <- genExprFull(depth - 1) }
        yield Lookup(t, k)))

  test("formula locale round-trip: parse(toFormula(e, lang), lang) == e, en + nl, 1000 ASTs each") {
    // the reference pins hand-picked localized round-trips
    // (WarpCoreTests.swift:670-694); this drives the law over the whole
    // expression space under BOTH locales — decimal separators, localized
    // function spellings/constants, postfix-unsafe lookup keys, binary-%
    // lookahead, the lot
    def norm(x: Expr): Expr = x match {
      // double literals that happen to be integral print without a
      // fraction and reparse as Long — the documented normalization
      case Lit(d: Double) if d == d.floor && d.abs < 1e15 => Lit(d.toLong)
      case Bin(op, l, r) => Bin(op, norm(l), norm(r))
      case Call(f, as)   => Call(f, as.map(norm))
      case ListLit(as)   => ListLit(as.map(norm))
      case Index(t, i)   => Index(norm(t), norm(i))
      case Lookup(t, k)  => Lookup(norm(t), norm(k))
      case other         => other
    }
    for (lang <- Seq(graft.values.WarpLanguage.en, graft.values.WarpLanguage.nl)) {
      for (e <- samples(genExprFull(3), 1000)) {
        val s = Formula.toFormula(e, lang)
        val reparsed =
          try Formula.parse(s, lang)
          catch { case ex: Throwable =>
            fail(s"[${lang.id}] unparse produced unparseable '$s' for $e: $ex") }
        assert(norm(reparsed) == norm(e),
          s"[${lang.id}] round-trip failed for: $s\n  ast: $e\n  got: $reparsed")
      }
    }
  }

  test("formula round-trip: parse(toFormula(e)) == e for random ASTs") {
    for (e <- samples(genExpr(3), 300)) {
      val once = Formula.toFormula(e)
      val reparsed = Formula.parse("=" + once)
      // integer literals survive as Long; double literals that happen to be
      // integral print without a fraction and reparse as Long — normalize
      def norm(x: Expr): Expr = x match {
        case Lit(d: Double) if d == d.floor && d.abs < 1e15 => Lit(d.toLong)
        case Bin(op, l, r) => Bin(op, norm(l), norm(r))
        case Call(f, as)   => Call(f, as.map(norm))
        case ListLit(as)   => ListLit(as.map(norm))
        case Index(t, i)   => Index(norm(t), norm(i))
        case Lookup(t, k)  => Lookup(norm(t), norm(k))
        case other         => other
      }
      assert(norm(reparsed) == norm(e), s"round-trip failed for: $once")
    }
  }

  test("warp lenient-comparison laws under fuzz: symmetry, duality, reflexivity") {
    // the coercion-based comparison algebra must behave like an order
    // relation wherever it is defined — for ANY pair of messy inputs
    // (numeric strings, padded numbers, booleans, text, empties, nulls):
    //   eq is symmetric; lt/gt and lte/gte are mutual duals; eq(a,a)
    //   never returns false; lt(a,a) never returns true
    import org.apache.spark.sql.functions._
    import graft.values.Warp
    val atoms = Seq("3", "3.0", "03", " 2", "abc", "", "true", "TRUE",
      "-1.5", "0", "1e2", "NaN", null)
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(300)((atoms(rnd.nextInt(atoms.length)),
      atoms(rnd.nextInt(atoms.length))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(p => org.apache.spark.sql.Row(p._1, p._2))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType))))
    val bad = df.select(
      (!(Warp.eq(col("a"), col("b")) <=> Warp.eq(col("b"), col("a")))).as("e"),
      (!(Warp.lt(col("a"), col("b")) <=> Warp.gt(col("b"), col("a")))).as("l"),
      (!(Warp.lte(col("a"), col("b")) <=> Warp.gte(col("b"), col("a")))).as("le"),
      coalesce(!Warp.eq(col("a"), col("a")), lit(false)).as("r"),
      coalesce(Warp.lt(col("a"), col("a")), lit(false)).as("ir"))
      .filter(col("e") || col("l") || col("le") || col("r") || col("ir"))
    assert(bad.count() == 0, bad.collect().take(3).mkString("; "))
  }

  test("pack escape round-trip is the identity for any string") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for (ss <- samples(Gen.listOfN(20, Gen.asciiPrintableStr.map(_.take(12))), 5)) {
      {
        val df = ss.toDF("s")
        val back = df.select(graft.functions.WarpFunctions.packUnescape(
          graft.functions.WarpFunctions.packEscape(col("s"))).as("r"))
          .as[String].collect().toSeq
        assert(back == ss)
      }
    }
  }

  test("rankDistributed law: equals global-window rank on random frames") {
    // generator-driven shapes the hand-written spec can't enumerate:
    // tiny frames, all-equal keys (one bucket swallows everything),
    // heavy null densities, bucket counts above and below the row count
    import org.apache.spark.sql.functions._
    import graft.ops.WarpOps._
    import graft.ops.WarpOps.RunningAgg._
    import spark.implicits._
    val genRows = for {
      n <- Gen.choose(1, 60)
      allEq <- Gen.oneOf(true, false)
      rows <- Gen.listOfN(n, for {
        k <- if (allEq) Gen.const(Some(7)) else Gen.option(Gen.choose(0, 5))
        v <- Gen.option(Gen.choose(-50, 50))
      } yield (k, v))
    } yield rows
    for ((rows, ci) <- samples(genRows, 12).zipWithIndex) {
      val df = rows.zipWithIndex.map { case ((k, v), i) =>
        (i, k.map(Integer.valueOf).orNull,
          v.map(x => java.lang.Double.valueOf(x.toDouble)).orNull)
      }.toDF("id", "k", "v")
      val orders = Seq(Order(col("k")), Order(col("id")))
      val aggs = Seq("rn" -> ((w: org.apache.spark.sql.expressions.WindowSpec) =>
        count(lit(1)).over(w)),
        "run" -> ((w: org.apache.spark.sql.expressions.WindowSpec) =>
          sum(col("v").cast("decimal(20,6)")).over(w)))
      val slow = df.rank(aggs, orders).collect()
        .map(r => r.getInt(0) -> (r.get(3), r.get(4))).toMap
      val fast = df.rankDistributed(
        Seq(RCount("rn"), RSum("run", col("v").cast("decimal(20,6)"))),
        orders, buckets = ci % 5 + 1).collect()
        .map(r => r.getInt(0) -> (r.get(3), r.get(4))).toMap
      assert(slow.keySet == fast.keySet, s"case $ci ids")
      for (id <- slow.keys)
        assert(slow(id) == fast(id), s"case $ci row $id: ${slow(id)} vs ${fast(id)}")
    }
  }

  test("rankDistributed law 2: bucket-boundary edges — counts {1,2,31,257} × dup-heavy/all-null/NaN double keys") {
    // the r11 fuzz demanded by VERDICT r10 item 7, widened with NaN sort
    // keys (ADVICE r10: a NaN boundary must keep bucket ids monotone
    // with the asc-nulls-first/NaN-last window collation). Key domain is
    // DOUBLE with mass on exact duplicates, nulls and NaN; bucket counts
    // straddle the row count on both sides.
    import org.apache.spark.sql.functions._
    import graft.ops.WarpOps._
    import graft.ops.WarpOps.RunningAgg._
    import spark.implicits._
    val genCase = for {
      n <- Gen.choose(1, 120)
      mode <- Gen.oneOf("dup-heavy", "all-null", "nan-mix", "plain")
      rows <- Gen.listOfN(n, for {
        k <- mode match {
          case "dup-heavy" => Gen.oneOf(Some(1.0), Some(1.0), Some(2.0), Some(2.0), Some(3.0))
          case "all-null"  => Gen.const(None)
          case "nan-mix"   => Gen.oneOf(Some(Double.NaN), Some(Double.NaN),
            Some(1.5), Some(-2.0), None)
          case _           => Gen.option(Gen.choose(-5, 5).map(_.toDouble))
        }
        v <- Gen.option(Gen.choose(-50, 50))
      } yield (k, v))
    } yield (mode, rows)
    val bucketCounts = Seq(1, 2, 31, 257)
    for (((mode, rows), ci) <- samples(genCase, 12).zipWithIndex) {
      val df = rows.zipWithIndex.map { case ((k, v), i) =>
        (i, k.map(java.lang.Double.valueOf).orNull,
          v.map(x => java.lang.Double.valueOf(x.toDouble)).orNull)
      }.toDF("id", "k", "v")
      val orders = Seq(Order(col("k")), Order(col("id")))
      val slow = df.rank(Seq(
        "rn" -> ((w: org.apache.spark.sql.expressions.WindowSpec) =>
          count(lit(1)).over(w)),
        "run" -> ((w: org.apache.spark.sql.expressions.WindowSpec) =>
          sum(col("v").cast("decimal(20,6)")).over(w)),
        "mx" -> ((w: org.apache.spark.sql.expressions.WindowSpec) =>
          max(col("v")).over(w))), orders).collect()
        .map(r => r.getInt(0) -> (r.get(3), r.get(4), r.get(5))).toMap
      val buckets = bucketCounts(ci % bucketCounts.size)
      val fast = df.rankDistributed(
        Seq(RCount("rn"), RSum("run", col("v").cast("decimal(20,6)")),
          RMax("mx", col("v"))), orders, buckets).collect()
        .map(r => r.getInt(0) -> (r.get(3), r.get(4), r.get(5))).toMap
      assert(slow.keySet == fast.keySet, s"case $ci ($mode, b=$buckets) ids")
      for (id <- slow.keys)
        assert(slow(id) == fast(id),
          s"case $ci ($mode, b=$buckets) row $id: ${slow(id)} vs ${fast(id)}")
    }
  }

  test("nested pack/unpack round-trip survives $0/$1 escape collisions (1000 cases)") {
    // the adversarial alphabet concentrates on the escape metacharacters
    // themselves ($, 0, 1, comma and pre-escaped fragments), so double
    // packing (list-of-lists -> list of pack strings -> one pack string)
    // exercises $ -> $0 -> $00 chains and ,-vs-$1 collisions the uniform
    // ascii generator of the scalar round-trip almost never hits
    import org.apache.spark.sql.functions._
    import graft.functions.WarpFunctions.{fnPackList, fnUnpackList}
    import spark.implicits._
    val atom = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("$", "0", "1", ",", "a", "$0", "$1", ",,", "$$"))).map(_.mkString)
    val innerGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, atom))
    val nestedGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, innerGen))
    val cases: Seq[Seq[Seq[String]]] = samples(nestedGen, 1000)
    val df = cases.zipWithIndex.map { case (ll, i) => (i, ll) }.toDF("id", "ll")
    // pack inner lists, pack the resulting list, then unpack twice
    val packed = df.select(col("id"),
      fnPackList(transform(col("ll"), inner => fnPackList(inner))).as("p"))
    val back = packed.select(col("id"),
      transform(fnUnpackList(col("p")), s => fnUnpackList(s)).as("r"))
    val got = back.as[(Int, Seq[Seq[String]])].collect().toMap
    for ((ll, i) <- cases.zipWithIndex)
      assert(got(i) == ll, s"case $i: $ll -> ${got(i)}")
  }

  test("numeric parse kernel agrees with the strict-grammar law") {
    import org.apache.spark.unsafe.types.UTF8String
    val numRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$".r
    for (s <- samples(Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(10)),
      Gen.choose(-1e9, 1e9).map(_.toString),
      Gen.choose(-999999L, 999999L).map(_.toString)), 500)) {
      val parsed = Option(graft.functions.WarpNumExpr.parse(UTF8String.fromString(s)))
      val grammarSaysNumeric = numRe.findFirstIn(s).isDefined
      val isBool = s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false")
      if (grammarSaysNumeric && parsed.isEmpty)
        // only legal escape hatch: overflow to Inf is banned
        assert(!java.lang.Double.isFinite(s.toDouble), s"rejected valid number: '$s'")
      if (!grammarSaysNumeric && !isBool)
        assert(parsed.isEmpty, s"accepted non-number: '$s' -> $parsed")
    }
  }

  test("differential: local inference evaluator agrees with the compiled WV track") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // two independently-written evaluators (Infer.evalLocal for the
    // programming-by-example search, the WV compiler for execution) must
    // agree on the shared subset, or inference suggests formulas that
    // behave differently at scale
    val row = Map[String, Any]("a" -> 3.5, "b" -> "xy", "c" -> null, "d" -> 7L)
    val schema = StructType(Seq(
      StructField("a", DoubleType), StructField("b", StringType),
      StructField("c", DoubleType), StructField("d", LongType)))
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(3.5, "xy", null, 7L)), schema)

    val genLeaf: Gen[Expr] = Gen.oneOf(
      Gen.oneOf("a", "b", "c", "d").map(Sibling(_)),
      Gen.choose(-99L, 99L).map(Lit(_)),
      Gen.choose(-9.0, 9.0).map(d => Lit(math.rint(d * 10) / 10.0)),
      Gen.oneOf("p", "q", "").map(Lit(_)))
    def genE(depth: Int): Gen[Expr] =
      if (depth <= 0) genLeaf
      else Gen.frequency(
        2 -> genLeaf,
        4 -> (for {
          op <- Gen.oneOf("+", "-", "*", "/", "^", "&")
          l <- genE(depth - 1); r <- genE(depth - 1)
        } yield Bin(op, l, r)),
        2 -> (for {
          f <- Gen.oneOf("UPPER", "LOWER", "TRIM", "ABS", "SQRT", "LENGTH")
          x <- genE(depth - 1)
        } yield Call(f, List(x))))

    val ctx = Formula.Ctx.forSchema(schema)
    for (e <- samples(genE(3), 250)) {
      val local = graft.formula.Infer.evalLocal(e, row, null)
      val compiled = df.select(Formula.compile(e, ctx).as("r")).collect()(0).get(0)
      def normNum(v: Any): Option[Any] = v match {
        case null => None
        case n: Number => Some(math.rint(n.doubleValue() * 1e9) / 1e9)
        case other => Some(other)
      }
      assert(normNum(local.orNull) == normNum(compiled),
        s"evaluators disagree on ${Formula.toFormula(e)}: local=$local compiled=$compiled")
    }
  }

  test("differential: bits_hamming kernel agrees with per-word bit_count(xor)") {
    // the native gate kernel must be bit-identical to the declarative
    // formulation it replaced, including null/length poisoning
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200) {
      val n = 1 + rnd.nextInt(6)
      (Seq.fill(n)(rnd.nextLong()), Seq.fill(n)(rnd.nextLong()))
    } ++ Seq((Seq(1L, 2L), Seq(1L)))   // length mismatch => null
    val df = rows.toDF("a", "b")
    val kernel = C(graft.functions.HammingDistExpr(E(col("a")), E(col("b"))))
    val declarative = when(size(col("a")) === size(col("b")),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("int")), lit(0), _ + _))
    val bad = df.select(kernel.as("k"), declarative.as("d"))
      .filter(!(col("k") <=> col("d"))).count()
    assert(bad == 0)
  }

  test("differential: vec_dot kernel is bit-identical to the HOF left fold") {
    // the kernel's doc contract: same value as
    // aggregate(zip_with(a,b,_*_), 0.0, _+_) — index-order left fold in
    // double — including null-element and length-mismatch poisoning
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(200) {
      val n = 1 + rnd.nextInt(8)
      (Seq.fill(n)(rnd.nextFloat() * 2 - 1), Seq.fill(n)(rnd.nextFloat() * 2 - 1))
    } ++ Seq((Seq(1f, 2f), Seq(3f)))   // length mismatch => null
    val df = rows.toDF("a", "b")
    val kernel = C(graft.functions.DotProductExpr(E(col("a")), E(col("b"))))
    val hof = aggregate(
      zip_with(col("a").cast("array<double>"), col("b").cast("array<double>"),
        (x, y) => x * y),
      lit(0.0), (acc, p) => acc + p)
    val bad = df.select(kernel.as("k"), hof.as("h"))
      .filter(!(col("k") <=> col("h"))).count()
    assert(bad == 0)
  }

  test("differential: vec_sketch kernel equals the per-plane sign-bit formulation") {
    // packing contract: word w, bit i = sign of plane (64w + i) · v; the
    // kernel must agree with nBits independent vec_dot sign tests
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 5
    val nBits = 70 // straddles a word boundary on purpose
    val planes = graft.pipeline.Similarity.hyperplanes(dim, nBits, seed = 3L)
    val df = Seq.fill(50)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1)).toDF("v")
    val kernel = C(graft.functions.SketchExpr(E(col("v")), planes))
    val declared = (0 until (nBits + 63) / 64).map { w =>
      (0 until 64).flatMap { i =>
        val b = w * 64 + i
        if (b >= nBits) None
        else Some(when(
          C(graft.functions.DotProductExpr(E(col("v")),
            E(typedLit(planes(b).toSeq)))) > 0.0,
          lit(1L << i)).otherwise(lit(0L)))
      }.reduce(_.bitwiseOR(_))
    }
    val bad = df.select(kernel.as("k"), array(declared: _*).as("d"))
      .filter(!(col("k") <=> col("d"))).count()
    assert(bad == 0)
  }

  test("differential: text_stats kernel equals the eight declarative passes") {
    // the single-pass kernel must reproduce each formulation it replaced,
    // over whitespace-hostile and Unicode-bearing inputs: leading tabs
    // (space-only SQL trim + Java split's leading empty token), trailing
    // \s, punctuation runs, digits, non-ASCII letters, surrogate pairs
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import spark.implicits._
    val alphabet = "ab z.,;:!?'\"()-09\t\n\r\fÉéÜü中𝄞 "
    val rnd = new scala.util.Random(29)
    val rows = Seq.fill(300) {
      Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("", " ", "\t", " \tfoo bar\n", "a.b,c!", "𝄞𝄞 𝄞", "İstanbul Iı")
    val df = rows.toDF("t")
    val ts = C(graft.functions.TextStatsExpr(E(col("t"))))
    val tks = split(trim(lower(col("t"))), "\\s+")
    val decl = Seq(
      when(length(trim(col("t"))) === 0, 0L).otherwise(size(tks).cast("long")),
      aggregate(tks, lit(0L), (acc, t) => acc + length(t)),
      size(regexp_extract_all(lower(col("t")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long"),
      (length(col("t")) - length(regexp_replace(col("t"), "[.,;:!?'\"()-]", "")))
        .cast("long"),
      length(col("t")).cast("long"),
      (length(col("t")) - length(regexp_replace(col("t"), "[0-9]", "")))
        .cast("long"),
      (length(col("t")) - length(regexp_replace(col("t"), "[A-Z]", "")))
        .cast("long"),
      // slot 8: non-empty token count — must NOT inherit split's empty
      // edge tokens (the cross-engine-proof denominator for fertility)
      size(filter(split(lower(col("t")), "\\s+"), t => length(t) > 0))
        .cast("long"))
    val checks = decl.zipWithIndex.map { case (d, i) =>
      (!(element_at(ts, i + 1) <=> d)).as(s"bad_$i") }
    val bad = df.select(checks: _*)
      .filter(checks.indices.map(i => col(s"bad_$i")).reduce(_ || _)).count()
    assert(bad == 0)
  }

  test("differential: class_counts slots equal their declarative Spark equivalents") {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // mixed case, digits, ASCII punct/ctrl, unicode ws, combining marks,
    // scripts, supplementary plane — every class the kernel counts
    val alphabet = "aA zZ.,!?09\t\n\r\fÉǘ中Ж δ𝄞   "
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(300) {
      Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("", " ", "\t", "FooBar Baz9", "İstanbul Iı", "áb", "𝄞𝄞 𝄞",
      "MixedCASE123!x", "  　")
    val df = rows.toDF("t")
    val cc = C(graft.functions.ClassCountsExpr(E(col("t"))))
    def reCnt(cls: String) =
      (length(col("t")) - length(regexp_replace(col("t"), cls, ""))).cast("long")
    val ws = "[ \\t\\n\\x0B\\f\\r]"
    val decl: Seq[(Int, org.apache.spark.sql.Column)] = Seq(
      1 -> length(col("t")).cast("long"),
      2 -> reCnt("[A-Za-z]"),
      3 -> reCnt("[A-Z]"),
      4 -> reCnt("[0-9]"),
      5 -> reCnt(ws),
      11 -> reCnt("[\\x85\\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]"),
      12 -> reCnt("[\\u0400-\\u04ff]"),
      13 -> reCnt("[\\u0370-\\u03ff]"),
      14 -> reCnt("[\\u4e00-\\u9fff]"),
      // caseless ws tokens == non-empty split runs == textStats slot 8
      15 -> size(filter(split(col("t"), "\\s+"), t => length(t) > 0)).cast("long"),
      // caseless bpe: [A-Za-z] runs + digit runs + single other non-ws
      16 -> size(regexp_extract_all(col("t"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"), lit(0))).cast("long"))
    val checks = decl.map { case (slot, d) =>
      (!(element_at(cc, slot) <=> d)).as(s"bad_$slot") }
    val bad = df.select(checks: _*)
      .filter(decl.map { case (s, _) => col(s"bad_$s") }.reduce(_ || _)).count()
    assert(bad == 0)
    // the whitespace-token slot must be value-identical to the proven
    // lowered kernel's slot 8 (case mapping never touches ws membership)
    val ts = C(graft.functions.TextStatsExpr(E(col("t"))))
    assert(df.filter(!(element_at(cc, 15) <=> element_at(ts, 8))).count() == 0)
    // supplementary chars count code POINTS (the 𝄞 fixtures): spot checks
    val one = graft.functions.ClassCountsExpr.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("𝄞a𝄞 𝄞")).toLongArray()
    assert(one(0) == 5 && one(7) == 3 && one(8) == 3 && one(14) == 2 &&
      one(15) == 4)
    // combining mark is its own bpe token, splits a letter run
    val comb = graft.functions.ClassCountsExpr.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("áb")).toLongArray()
    assert(comb(0) == 3 && comb(9) == 1 && comb(15) == 3 && comb(14) == 1)
  }

  test("differential: token_stats id-pair bigram counting equals joined-string counting") {
    // the open-addressed (id1,id2) map must count exactly what the
    // straightforward "tok1 + ' ' + tok2" string multiset counts —
    // including repeated tokens, empty docs, and single-token docs
    val alphabet = Seq("a", "b", "c", "aa", "b b", "", " ", "\t")
    val rnd = new scala.util.Random(37)
    val docs = Seq.fill(300) {
      Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString(" ")
    } ++ Seq("", " ", "x", "x x x x", "a b a b a b")
    for (d <- docs) {
      val got = graft.functions.TokenStatsExpr.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(d)).toLongArray()
      val toks = graft.functions.TextHash.tokenize(
        org.apache.spark.unsafe.types.UTF8String.fromString(d))
      val tf = toks.groupBy(identity).map(_._2.length)
      val bgs = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val bf = bgs.groupBy(identity).map(_._2.length)
      val want = Array[Long](toks.length, tf.size, if (tf.isEmpty) 0 else tf.max,
        math.max(toks.length - 1, 0), bf.size, if (bf.isEmpty) 0 else bf.max)
      assert(got.toSeq == want.toSeq, s"doc '$d': got ${got.toSeq}, want ${want.toSeq}")
    }
  }

  test("AVI writer/parser round-trip over random clip geometry") {
    // the RIFF layer is hand-rolled on both sides; a shared byte-layout
    // bug would cancel out in fixture tests with fixed dims, so the
    // property randomizes geometry and checks the parsed header AND the
    // per-frame decode against the generating parameters
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gen = for {
      w <- Gen.choose(1, 40); h <- Gen.choose(1, 40)
      nf <- Gen.choose(1, 9); fps <- Gen.choose(1, 30)
    } yield (w, h, nf, fps)
    val cases = samples(gen, 12).zipWithIndex
    val df = cases.map { case ((w, h, nf, fps), i) =>
      (i.toLong, graft.pipeline.Multimodal.encodeAviMjpeg(w, h, nf, fps, seed = i * 7L),
        null: String)
    }.toDF("media_id", "data", "pad")
      .select(col("media_id"), col("data"),
        lit(null).cast(graft.pipeline.Multimodal.mediaMetaType).as("meta"))
    val metas = graft.pipeline.Multimodal.decodeVideos(df)
      .select("media_id", "meta.width", "meta.height", "meta.duration_ms")
      .as[(Long, Int, Int, Long)].collect()
      .map { case (id, w, h, d) => (id.toInt, (w, h, d)) }.toMap
    for (((w, h, nf, fps), i) <- cases) {
      val (pw, ph, dur) = metas(i)
      assert(pw == w && ph == h, s"case $i dims")
      assert(dur == nf.toLong * (1000000L / fps) / 1000L, s"case $i duration")
    }
    // every frame decodes with the generating dimensions
    val fr = graft.pipeline.Multimodal.sampleVideoFrames(df, 100)
      .select("media_id", "f_width", "f_height")
      .as[(Long, Int, Int)].collect()
    val byId = fr.groupBy(_._1.toInt)
    for (((w, h, nf, _), i) <- cases) {
      assert(byId(i).length == nf, s"case $i frame count")
      assert(byId(i).forall(f => f._2 == w && f._3 == h), s"case $i frame dims")
    }
  }

  test("media decoders never throw on arbitrary bytes (corpus garbage law)") {
    // corpus-scale media columns ALWAYS contain truncated/corrupt payloads;
    // the decode contract is null meta, never a task failure. Random bytes
    // plus adversarial prefixes (valid magics with garbage bodies).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val magics = Seq(
      "RIFF".getBytes("US-ASCII"),                      // RIFF, no form
      "RIFF1234AVI ".getBytes("US-ASCII"),              // AVI, bogus size
      "RIFF$   WAVE".getBytes("ISO-8859-1"), // WAV stub
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte),    // PNG magic
      Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte))     // JPEG SOI
    val payloads: Seq[Array[Byte]] =
      (1 to 40).map(i => Array.fill(rnd.nextInt(200))(rnd.nextInt.toByte)) ++
        magics.flatMap(m => Seq(m, m ++ Array.fill(64)(rnd.nextInt.toByte))) :+
        Array.empty[Byte]
    val df = payloads.zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("media_id", "data")
      .select(col("media_id"), col("data"),
        lit(null).cast(graft.pipeline.Multimodal.mediaMetaType).as("meta"))
    // decode paths: all rows survive; garbage rows yield null meta
    assert(graft.pipeline.Multimodal.decodeImages(df).count() == payloads.size)
    assert(graft.pipeline.Multimodal.decodeAudio(df).count() == payloads.size)
    assert(graft.pipeline.Multimodal.decodeVideos(df).count() == payloads.size)
    // feature/frame paths: must also survive (rows may drop, never throw)
    graft.pipeline.Multimodal.audioRmsFeatures(df, 4).count()
    graft.pipeline.Multimodal.sampleVideoFrames(df, 2).count()
    graft.pipeline.Multimodal.videoGridFeatures(df, 2, 4, 4).count()
  }

  test("differential: hand tokenize equals regex split(trim(lower), \\s+)") {
    val ws = java.util.regex.Pattern.compile("\\s+")
    def reference(s: String): Seq[String] = {
      val lower = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        .toLowerCase.toString
      var from = 0; var until = lower.length
      while (from < until && lower.charAt(from) == ' ') from += 1
      while (until > from && lower.charAt(until - 1) == ' ') until -= 1
      ws.split(lower.substring(from, until), -1).toSeq
    }
    val alphabet = "aB z.\t\n\r\f  É中"
    val rnd = new scala.util.Random(43)
    val docs = Seq.fill(500) {
      Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("", " ", "\t", " \ta b\n", "x", "  x  ", "\t\t", "ab")
    for (d <- docs) {
      val got = graft.functions.TextHash.tokenize(
        org.apache.spark.unsafe.types.UTF8String.fromString(d)).toSeq
      assert(got == reference(d), s"doc ${d.map(_.toInt)}: $got vs ${reference(d)}")
    }
  }

  test("differential: segment_dup_stats equals split/array_distinct sizes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import spark.implicits._
    val alphabet = "a b \n \n\n x a\n  ".split("(?<= )") :+ ""
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(300) {
      Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("", "\n", "a\na\n", "\n\n\n", "x")
    val df = rows.toDF("t")
    val k = C(graft.functions.SegmentDupStatsExpr(E(col("t")), '\n'))
    val lines = split(col("t"), "\n", -1)
    val bad = df.select(
      (!(element_at(k, 1) <=> size(lines).cast("long"))).as("b1"),
      (!(element_at(k, 2) <=> size(array_distinct(lines)).cast("long"))).as("b2"))
      .filter(col("b1") || col("b2")).count()
    assert(bad == 0)
  }

  test("differential: pii_scan kernel equals the six regex passes") {
    // counts on the original text, redaction sequential — bit-equal to
    // java.util.regex over inputs built to hit every backtracking corner:
    // TLD splits, local-run/domain-run overlaps, long digit runs, \b edges
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.pipeline.{TextAnalysis => TA}
    val alphabet = "a b z @ . + - _ % 0 1 9 x , co".split(" ") ++ Seq(" ", "")
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(400) {
      Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq(
      "a@b.co", "a@b.c", "a@b.co.x", "user@@example.co", "a@b.c_d@e.co",
      "x@y.co@z.co", "reach me at a.b%c+d@ex-1.mple.org today",
      "1.2.3.4", "1.2.3.4.5", "12345.1.2.3", "1234x5.6.7.8", "1.2.3.45.6",
      "10.200.0.1x", "_1.2.3.4", "+1234567", "+123456", "tel +1555000123",
      "+1234567890123456789", "u@10.1.2.3.com or 10.1.2.3",
      "a@-.co", "@.co", "a@.co", "..@..", "")
    val df = rows.toDF("t")
    val k = TA.piiScan(col("t"))
    val declRedact =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("t"), lit(TA.emailPattern), lit("<EMAIL>")),
          lit(TA.ipv4Pattern), lit("<IP>")),
        lit(TA.phonePattern), lit("<PHONE>"))
    val bad = df.select(
      (!(k.getField("emails") <=> regexp_count(col("t"), lit(TA.emailPattern)).cast("long"))).as("b1"),
      (!(k.getField("ips") <=> regexp_count(col("t"), lit(TA.ipv4Pattern)).cast("long"))).as("b2"),
      (!(k.getField("phones") <=> regexp_count(col("t"), lit(TA.phonePattern)).cast("long"))).as("b3"),
      (!(k.getField("redacted") <=> declRedact)).as("b4"),
      col("t"))
      .filter(col("b1") || col("b2") || col("b3") || col("b4"))
    val offenders = bad.collect()
    assert(offenders.isEmpty,
      offenders.take(5).map(_.toString).mkString("; "))
  }

  test("differential: ngramJaccardPairs join-condition gate equals brute-force filter") {
    // the division-free gate (i*(1+t) >= t*n - eps) in the join condition
    // is load-bearing at EVERY threshold, not just q_dedup_jaccard's 0.5:
    // compare against the naive cross-join + exact-jaccard filter on
    // random word-soup docs across thresholds, including exact-boundary
    // pairs (identical docs, j == 1.0)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "gg", "hhh")
    val docs = (0L until 30L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((100L, "a bb ccc"), (101L, "a bb ccc")) // j == 1.0 boundary
    val df = docs.toDF("id", "text")
    for (t <- Seq(0.05, 0.3, 0.5, 0.72, 1.0)) {
      val fast = graft.pipeline.Dedup.ngramJaccardPairs(df, "text", "id",
        shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sh = df.select(col("id"),
        array_distinct(graft.pipeline.Dedup.shingles(col("text"), 2)).as("sh"))
      val brute = sh.select(col("id").as("id1"), col("sh").as("sh1"))
        .crossJoin(sh.select(col("id").as("id2"), col("sh").as("sh2")))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          graft.pipeline.Dedup.jaccard(col("sh1"), col("sh2")).as("j"))
        .filter(col("j") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == brute, s"threshold $t: ${fast.diff(brute)} vs ${brute.diff(fast)}")
    }
  }

  test("header dedup always yields unique names preserving first occurrences") {
    for (names <- samples(Gen.listOf(Gen.oneOf("a", "b", "c", "a_B")), 200)) {
      val out = graft.sources.CsvSource.dedupHeaders(names)
      assert(out.length == names.length)
      assert(out.distinct == out, s"duplicates in $out")
      // originals keep their first-occurrence spelling
      names.distinct.foreach(n => assert(out.contains(n)))
    }
  }

  test("dedupSpans invariants: survivors unique, tokens preserved, counts consistent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val word: Gen[String] = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val genDoc: Gen[String] = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    for (trial <- 1 to 3) {
      val docs = samples(genDoc, 30).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val out = graft.pipeline.Dedup.dedupSpans(df, "text", "doc_id", windowWords = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq
      // every input row survives with n_kept <= n_spans
      assert(out.map(_._1).sorted == docs.map(_._1))
      out.foreach { case (_, nSpans, nKept, _) => assert(nKept <= nSpans) }
      // surviving spans are globally unique (re-chunk the dedup output:
      // spans survive in place, so re-chunking reproduces them)
      val survived = out.flatMap { case (_, _, _, t) =>
        if (t.isEmpty) Seq.empty else t.split(" ").grouped(3).map(_.mkString(" ")).toSeq }
      assert(survived.distinct.size == survived.size,
        s"duplicate span survived: $survived")
      // kept token multiset is a subset of the input multiset
      val inTokens = docs.flatMap(_._2.split(" ").filter(_.nonEmpty)).groupBy(identity)
      val outTokens = out.flatMap(_._4.split(" ").filter(_.nonEmpty)).groupBy(identity)
      outTokens.foreach { case (w, occ) =>
        assert(inTokens.getOrElse(w, Seq.empty).size >= occ.size) }
    }
  }

  test("packSequences laws: offsets in range, streams contiguous per shard") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val genTok: Gen[Long] = Gen.chooseNum(0L, 500L)
    for (trial <- 1 to 3) {
      val rows = samples(genTok, 50).zipWithIndex.map { case (t, i) =>
        (i.toLong, s"shard${i % 4}", t) }
      val df = rows.toDF("id", "shard", "toks")
      val out = graft.pipeline.Packing.packSequences(df, col("toks"), col("shard"), col("id"), budget = 128)
        .select("id", "shard", "n_tokens", "pack_id", "pack_offset")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      out.foreach { case (_, _, _, packId, off) =>
        assert(off >= 0 && off < 128); assert(packId >= 0) }
      // global position = pack_id*budget + offset must equal the running
      // total of everything before the row in its shard's id order
      out.groupBy(_._2).foreach { case (_, shard) =>
        var cum = 0L
        shard.sortBy(_._1).foreach { case (_, _, n, packId, off) =>
          assert(packId * 128 + off == cum, s"gap in stream at cum=$cum")
          cum += n
        }
      }
    }
  }

  test("prefix-sum sampling laws: budget cut exact, shards bounded, caps salt-invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val genRow: Gen[(Long, Long)] =
      for { id <- Gen.chooseNum(1L, 5000L); n <- Gen.chooseNum(0L, 40L) } yield (id, n)
    for (trial <- 1 to 3) {
      val rows = samples(genRow, 80).distinctBy(_._1)
      val df = rows.toDF("id", "ntok")
      val ordered = rows.sortBy { case (i, _) => (md5hex(i.toString), i) }
      // takeTokenBudget == local greedy prefix, at a random budget
      val budget = samples(Gen.chooseNum(0L, rows.map(_._2).sum + 10), 1).head
      var cum = 0L
      val expect = ordered.flatMap { case (i, n) =>
        cum += n; if (cum <= budget) Some(i -> cum) else None }.toMap
      val got = graft.pipeline.Sampling.takeTokenBudget(df, col("id"), col("ntok"), budget)
        .select("id", "cum_tokens").as[(Long, Long)].collect().toMap
      assert(got == expect, s"budget=$budget")
      // assignShards: shard ids contiguous from 0; per-shard token totals land
      // within one document of the target on every shard but the last
      val per = 60L
      val sh = graft.pipeline.Sampling.assignShards(df, col("id"), col("ntok"), per)
        .select("id", "shard_id").as[(Long, Long)].collect().toMap
      val totals = rows.groupBy(r => sh(r._1)).view.mapValues(_.map(_._2).sum).toMap
      val maxSh = if (totals.isEmpty) -1L else totals.keys.max
      assert(totals.keySet == (0L to maxSh).toSet, s"non-contiguous shards: $totals")
      for (k <- 0L until maxSh)
        assert(totals(k) >= per - 40 && totals(k) < per + 40, s"shard $k total ${totals(k)}")
      // capPerGroup: salted == plain on random group assignments
      val grouped = rows.map { case (i, n) => (i, s"g${n % 3}") }.toDF("id", "grp")
      val plain = graft.pipeline.Sampling.capPerGroup(grouped, col("grp"), col("id"), 5)
        .select("id").as[Long].collect().toSet
      val salted = graft.pipeline.Sampling.capPerGroup(grouped, col("grp"), col("id"), 5,
        presaltParts = 3).select("id").as[Long].collect().toSet
      assert(plain == salted)
    }
  }

  test("quantizeInt8 law: reconstruction error bounded by one quantization step") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val genVec: Gen[Seq[Float]] = Gen.listOfN(12,
      Gen.chooseNum(-100f, 100f)).map(_.toSeq)
    for (trial <- 1 to 3) {
      val vecs = samples(genVec, 40).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = vecs.toDF("id", "vec")
      val q = graft.pipeline.Similarity.quantizeInt8(df, "vec", "id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getSeq[Int](3), r.getDouble(4), r.getDouble(5))).toSeq
      val byId = vecs.toMap
      q.foreach { case (id, lo, scale, codes, csum, csum2) =>
        val orig = byId(id)
        assert(codes.length == orig.length)
        assert(codes.forall(c => c >= 0 && c <= 255))
        // stored sums are exactly the integer sums of the codes
        assert(csum == codes.map(_.toDouble).sum)
        assert(csum2 == codes.map(c => c.toDouble * c).sum)
        // affine reconstruction lands within one step of the original
        orig.zip(codes).foreach { case (x, c) =>
          val recon = lo + c * scale
          val bound = math.max(scale, 1e-9) * (1 + 1e-9)
          assert(math.abs(recon - x) <= bound,
            s"recon error ${math.abs(recon - x)} > step $scale (id=$id)")
        }
      }
    }
  }

  test("dbf: write-read roundtrip is the identity on its value domain") {
    // the format's own lossy edges are excluded by construction: strings
    // are Latin-1 without leading/trailing blanks ("" reads as null), and
    // field widths stay under the 254 cap (truncation tested separately)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val latin1: Gen[String] = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaNumChar,
        2 -> Gen.oneOf('é', 'ß', 'ñ', '#', '_'))).map(_.mkString))
    val genRow: Gen[(String, Long, Double, Boolean)] = for {
      s <- latin1
      // dBase III N fields are 18 chars wide: 17 digits + sign is the
      // format's own long domain (wider values throw, tested elsewhere)
      l <- Gen.choose(-99999999999999999L, 99999999999999999L)
      d <- Gen.choose(-1e9, 1e9).map(d => math.rint(d * 1e6) / 1e6) // 6-dec domain
      b <- Gen.oneOf(true, false)
    } yield (s, l, d, b)

    val schema = StructType(Seq(StructField("s", StringType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("b", BooleanType)))
    for (trial <- 1 to 3) {
      val rows = samples(genRow, 40).zipWithIndex
        .map { case ((s, l, d, b), i) => Row(s + i, l, d, b) } // unique keys
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
      val path = tempDir("dbfprop") + s"/p$trial.dbf"
      graft.sources.DbfSource.write(df, path)
      val back = graft.sources.DbfSource.read(spark, path)
      assert(back.orderBy("s").collect().toSeq ==
        df.orderBy("s").collect().toSeq)
    }
  }

  test("quantile laws: monotone in q, bracketed by min/max, partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val genVals: Gen[List[Double]] = for {
      n <- Gen.choose(3, 120)
      vs <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-1e5, 1e5),
        Gen.choose(1.0, 5.0).map(math.floor))) // continuous + heavy ties
    } yield vs
    for ((vs, t) <- samples(genVals, 6).zipWithIndex) {
      val qs = Seq("a" -> 0.1, "b" -> 0.35, "c" -> 0.5, "d" -> 0.9)
      def run(parts: Int) = graft.ops.BracketMedian.exactQuantiles(
        vs.map(("g", _)).toDF("g", "v").repartition(parts), Seq("g"), "v", qs)
        .select("a", "b", "c", "d")
        .as[(Double, Double, Double, Double)].head()
      val r3 = run(3)
      assert(r3._1 <= r3._2 && r3._2 <= r3._3 && r3._3 <= r3._4, s"trial $t: $r3")
      assert(r3._1 >= vs.min && r3._4 <= vs.max, s"trial $t: $r3")
      assert(run(7) == r3, s"trial $t: partitioning changed quantiles")
    }
  }

  test("weightedSample laws: subset, size, determinism across partitionings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val genN = Gen.choose(5, 300)
    for (n <- samples(genN, 5)) {
      val df = (1L to n.toLong).map(i => (i, (i % 5 + 1).toDouble)).toDF("id", "w")
      val k = math.min(40, n / 2 + 1)
      def pick(parts: Int) = graft.pipeline.Sampling
        .weightedSample(df.repartition(parts), col("id"), col("w"), k)
        .select("id").as[Long].collect().toSet
      val s1 = pick(2)
      assert(s1.size == k)
      assert(s1.subsetOf((1L to n.toLong).toSet))
      assert(pick(5) == s1, "partitioning changed the sample")
    }
  }

  test("heavy-hitter law: topKExact invariant under partitioning and k growth") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val genItems: Gen[List[Int]] = for {
      n <- Gen.choose(50, 400)
      vs <- Gen.listOfN(n, Gen.frequency(
        5 -> Gen.choose(0, 3), 2 -> Gen.choose(0, 30)))
    } yield vs
    for (items <- samples(genItems, 5)) {
      def top(parts: Int, k: Int) = graft.pipeline.HeavyHitters
        .topKExact(items.map(_.toString).toDF("x").repartition(parts),
          col("x"), n = 3, k = k)
        .as[(String, Long)].collect().toSeq
      val want = items.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq
        .sortBy { case (i, c) => (-c, i.toString) }
        .take(3).map { case (i, c) => (i.toString, c) }
      assert(top(2, 64) == want)
      assert(top(6, 1024) == want)
    }
  }

  test("AUC law: bucketed rank-sum equals the O(n^2) pair probability on random data") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // heavy tie mass on purpose: scores drawn from a 7-value grid so tie
    // groups straddle bucket boundaries, labels independent of score
    val genData: Gen[List[(Double, Long)]] = for {
      n <- Gen.choose(20, 200)
      rows <- Gen.listOfN(n, for {
        s <- Gen.choose(0, 6).map(_ / 6.0)
        y <- Gen.oneOf(0L, 1L)
      } yield (s, y))
    } yield rows
    for (data <- samples(genData, 8)) {
      val pos = data.filter(_._2 == 1L).map(_._1)
      val neg = data.filter(_._2 == 0L).map(_._1)
      val r = graft.pipeline.Classifier.aucReport(
        data.toDF("s", "y").repartition(5), col("s"), col("y"),
        buckets = 4).head()
      if (pos.isEmpty || neg.isEmpty) assert(r.isNullAt(2))
      else {
        val pairs = for (p <- pos; q <- neg)
          yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0
        val want = pairs.sum / (pos.size.toDouble * neg.size)
        val got = r.getAs[Double]("auc")
        assert(math.abs(got - want) < 1e-9, s"got $got want $want n=${data.size}")
      }
    }
  }

  test("rankedEval law: MRR/nDCG equal the per-query brute definition on random runs") {
    import spark.implicits._
    // random relevant sets and retrieval runs with colliding scores so
    // rank TIES exercise the (score DESC, id) pin
    val k = 5
    val genCase: Gen[(List[(Long, Long)], List[(Long, Long, Double)])] = for {
      nq <- Gen.choose(1, 6)
      ex <- Gen.sequence[List[(Long, Long)], (Long, Long)](
        (1 to nq).flatMap { q =>
          (1 to 3).map(i => Gen.choose(0L, 15L).map(id => (q.toLong, id)))
        }.toList)
      ap <- Gen.sequence[List[(Long, Long, Double)], (Long, Long, Double)](
        (1 to nq).flatMap { q =>
          (1 to 8).map(_ => for {
            id <- Gen.choose(0L, 15L)
            sc <- Gen.choose(0, 4).map(_ / 4.0) // 5-value grid: heavy ties
          } yield (q.toLong, id, sc))
        }.toList)
    } yield (ex.distinct, ap.groupBy(r => (r._1, r._2)).values.map(_.head).toList)
    val disc = graft.pipeline.Retrieval.dcgDiscounts(k)
    val ideal = graft.pipeline.Retrieval.dcgIdeal(k)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((ex, ap) <- samples(genCase, 8)) {
      val got = graft.pipeline.Retrieval.rankedEval(
          ex.toDF("qid", "id").repartition(3),
          ap.toDF("qid", "id", "cosine").repartition(5), k)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val exByQ = ex.groupBy(_._1)
      assert(got.keySet == exByQ.keySet)
      exByQ.foreach { case (q, rel0) =>
        val rel = rel0.map(_._2).toSet
        val ranked = ap.filter(_._1 == q)
          .sortBy(r => (-r._3, r._2)).take(k).map(_._2)
        val hitRanks = ranked.zipWithIndex.collect {
          case (id, i) if rel(id) => i + 1
        }
        val wantMrr = if (hitRanks.isEmpty) 0.0 else r9(1.0 / hitRanks.min)
        val dcg = hitRanks.map(r => BigDecimal(disc(r - 1))).sum.toDouble
        val wantNdcg = r9(dcg / ideal(math.min(rel.size, k) - 1))
        val (total, mrr, ndcg) = got(q)
        assert(total == rel.size.toLong, s"q=$q total")
        assert(mrr == wantMrr, s"q=$q mrr $mrr != $wantMrr")
        assert(math.abs(ndcg - wantNdcg) < 1e-9, s"q=$q ndcg $ndcg != $wantNdcg")
      }
    }
  }

  test("standardize law: per-dim mean 0 / unit variance on random data, invariant") {
    import spark.implicits._
    val genData: Gen[List[Seq[Float]]] = for {
      n <- Gen.choose(5, 40)
      dim <- Gen.choose(1, 4)
      rows <- Gen.listOfN(n, Gen.listOfN(dim,
        Gen.choose(-100.0, 100.0).map(_.toFloat)).map(_.toSeq))
    } yield rows
    for (rows <- samples(genData, 6)) {
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val out = graft.pipeline.Cluster.standardize(df.repartition(3), "v", "id")
        .collect()
      val byDim = out.groupBy(_.getInt(1))
      byDim.foreach { case (d, zs) =>
        if (zs.forall(!_.isNullAt(2))) {
          val v = zs.map(_.getDouble(2))
          assert(math.abs(v.sum / v.length) < 1e-5, s"dim $d mean")
          if (v.length > 1) {
            val m2 = v.map(x => x * x).sum / v.length
            assert(math.abs(m2 - 1.0) < 1e-4, s"dim $d var $m2")
          }
        }
      }
    }
  }

  test("medoid law: the elected medoid is at least as close as every member") {
    import spark.implicits._
    val genData: Gen[List[Seq[Float]]] = for {
      n <- Gen.choose(6, 30)
      rows <- Gen.listOfN(n, Gen.listOfN(2,
        Gen.choose(-10.0, 10.0).map(_.toFloat)).map(_.toSeq))
    } yield rows
    for (rows <- samples(genData, 6)) {
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "v")
      val k = 3
      val med = graft.pipeline.Cluster.medoids(df, "v", "vec_id", k, 2)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val asg = graft.pipeline.Cluster.kmeansAssign(df, "v", "vec_id", k, 2)
        .collect()
      asg.groupBy(_.getInt(1)).foreach { case (cl, members) =>
        val (mid, mdist) = med(cl)
        val best = members.map(_.getDouble(2)).min
        // the published dist2 is rounded to 6: compare at that precision
        assert(mdist <= best + 5e-7, s"cluster $cl: medoid $mid at $mdist > $best")
      }
    }
  }

  test("coreset law: picks distinct, radii non-increasing, first pick maximal") {
    import spark.implicits._
    val genData: Gen[List[Seq[Float]]] = for {
      n <- Gen.choose(5, 25)
      rows <- Gen.listOfN(n, Gen.listOfN(2,
        Gen.choose(-10.0, 10.0).map(_.toFloat)).map(_.toSeq))
    } yield rows
    for (rows <- samples(genData, 6)) {
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "v")
      val out = graft.pipeline.Sampling.kCenterGreedy(df, "v", "vec_id", 4)
        .orderBy("step").collect()
      assert(out.map(_.getLong(1)).distinct.length == out.length)
      val ds = out.drop(1).map(_.getDouble(2))
      assert(ds.zip(ds.tail).forall { case (a, b) => a >= b }, ds.toSeq.toString)
      // step 2 picks a point whose distance to the seed (id 0) is maximal
      // (distance-compare, not id-compare: the brute (a-b)^2 form rounds
      // differently from the operator's n2 + c2 - 2*dot form)
      if (out.length > 1) {
        val seed = rows.head.map(_.toDouble)
        def d2(v: Seq[Float]) = v.map(_.toDouble).zip(seed)
          .map { case (a, b) => (a - b) * (a - b) }.sum
        val maxD = rows.drop(1).map(d2).max
        val picked = d2(rows(out(1).getLong(1).toInt))
        assert(picked >= maxD - 1e-6 * math.max(1.0, maxD),
          s"step2 picked $picked, max $maxD")
      }
    }
  }

  test("prefixJaccardJoin law: equals brute all-pairs at random thresholds/corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // small vocab forces heavy token sharing (worst case for prefix
    // pruning); singletons and dup-heavy docs exercise the p = 1 edge
    val genDoc: Gen[String] = for {
      n <- Gen.choose(1, 12)
      toks <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"))
    } yield toks.mkString(" ")
    val genCase: Gen[(List[String], Double)] = for {
      m <- Gen.choose(2, 40)
      docs <- Gen.listOfN(m, genDoc)
      t <- Gen.oneOf(0.3, 0.5, 2.0 / 3.0, 0.75, 1.0)
    } yield (docs, t)
    for (((docs, t), trial) <- samples(genCase, 5).zipWithIndex) {
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "text").repartition(3)
      val got = graft.pipeline.Dedup
        .prefixJaccardJoin(df, "text", "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val w = df.select(col("doc_id"),
          array_distinct(split(trim(lower(col("text"))), "\\s+")).as("s"))
        .filter(size(col("s")) > 0)
      val inter = size(array_intersect(col("s1"), col("s2"))).cast("double")
      val uni = (size(col("s1")) + size(col("s2"))).cast("double") - inter
      val brute = w.select(col("doc_id").as("id1"), col("s").as("s1"))
        .crossJoin(w.select(col("doc_id").as("id2"), col("s").as("s2")))
        .filter(col("id1") < col("id2"))
        .withColumn("j", when(uni === 0.0, lit(1.0)).otherwise(inter / uni))
        .filter(col("j") >= t)
        .select("id1", "id2", "j")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brute, s"trial $trial t=$t")
    }
  }
}
