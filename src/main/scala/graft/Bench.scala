package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line with per-query wall seconds.
  *
  * Evaluation is forced with a `noop`-format write — a `count()` would let
  * Catalyst prune unreferenced projections, under-measuring map-only
  * queries (the scalar work would never run). The JSON line is printed
  * bare on stdout (build.sbt routes forked run output straight through,
  * no sbt [info] prefix) and also written to BENCH_LOCAL.json so harnesses
  * can read it from a file.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)
    // untimed warmup: JIT/codegen/scheduler spin-up otherwise lands on
    // whichever query happens to run first
    spark.range(1000000).selectExpr("sum(id)").collect()
    try catalog.Shared.T(spark, sfDir, "lineitem").limit(1000)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // untimed index preparation: q_embed_lsh/q_embed_ivf measure the
    // steady-state PROBE cost; the build cost is timed separately and
    // explicitly by q_embed_lsh_build/q_embed_ivf_build
    try SparkEntry.prepareIndexes(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] index prepare failed: $e") }
    // untimed per-query codegen warmup on the smallest dataset: generated
    // class shapes depend on the PLAN (schema), not the data volume, so one
    // tiny-SF pass C2-compiles every query's generated loops before any
    // timed run. Without it the first timed runs at large SF pay
    // compilation inside the measurement window (q_embed_knn at sf1:
    // 158 s cold vs ~32 s steady) and even min-of-3 under-corrects.
    // SPARK_GRAFT_WARM_DIR="" disables.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty && warmDir != sfDir && Files.exists(Paths.get(warmDir))) {
      try SparkEntry.prepareIndexes(spark, warmDir)
      catch { case e: Throwable => System.err.println(s"[bench] warm index prepare failed: $e") }
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => System.err.println(s"[bench] warmup $name failed: $e") }
      }
    }
    // untimed TARGET-SF warmup for named heavy queries: the tiny-SF pass
    // compiles every generated class, but the two 400M-iteration pair-loop
    // queries (q_embed_knn*) additionally need profile-driven C2
    // recompilation that only the big run itself triggers — four
    // back-to-back runs in one JVM at sf1 took 254 -> 168 -> 156 -> 67 s, so even
    // min-of-3 reports a compilation artifact, not the steady state a
    // deployment pays. Listing them here runs ONE untimed full-scale pass
    // first. Default: the iterative graph heavies, whose multi-round
    // generated-stage variety showed the same in-catalog non-convergence
    // (q_pagerank 13.8 s in-catalog vs 5.0 isolated at r8);
    // SPARK_GRAFT_HEAVY_WARM="" disables.
    // q_embed_knn joined r10: its 400M-iteration pair loop needs the
    // profile-driven C2 recompile only a full-scale pass triggers (sf1
    // swings 43->75 s purely on JIT attribution otherwise)
    sys.env.getOrElse("SPARK_GRAFT_HEAVY_WARM",
      "q_pagerank,q_label_prop,q_embed_knn").split(",")
      .map(_.trim).filter(_.nonEmpty).foreach { n =>
        SparkEntry.queries.get(n) match {
          case Some(fn) =>
            try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            catch { case e: Throwable =>
              System.err.println(s"[bench] heavy warm $n failed: $e") }
          case None => System.err.println(s"[bench] heavy warm: no query $n")
        }
      }
    // stable name order: Map iteration order shifts whenever a query is
    // added, silently moving the JIT-warmup cost onto different queries
    // between rounds and making per-query numbers incomparable
    //
    // steady state: each query runs THREE times and reports the MINIMUM —
    // the first run pays JIT/codegen compilation and cold file-cache reads,
    // which r3-r5 history shows land on different queries every round
    // (±5 s attribution swings drowning real regressions). r6 showed
    // min-of-2 is still not enough: a background C2-compile/GC storm
    // spanning one query's back-to-back window inflated q_func_math 3.5×
    // in one run and q_events_window 5× in the next, with the TOTAL
    // unchanged — pure attribution noise. A System.gc() quiesce between
    // queries keeps the previous queries' garbage from landing
    // mid-measurement, and a third run makes a storm spanning every
    // sample much less likely. The min is the per-query cost a warmed-up
    // deployment actually pays.
    // r11 (VERDICT r10 item 8): SPARK_GRAFT_EXCLUDE skips named queries —
    // used by the sf1 rehearsal to keep the declared-quadratic brute
    // baseline (q_embed_knn), whose profile-driven C2 band is a ±120 s
    // JIT artifact at sf1, OUT of the headline total; excluded names are
    // recorded in the JSON line and measured separately with the
    // fresh-JVM probe methodology (BenchProbe + SPARK_GRAFT_PROBE_ONLY).
    val excluded = sys.env.getOrElse("SPARK_GRAFT_EXCLUDE", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(kv => excluded(kv._1)).map { case (name, fn) =>
      def once(): Double =
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          // failures must be visible in the machine-readable output, not
          // just stderr: -1 marks a query that did not run to completion
          case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1.0
        }
      System.gc() // untimed: drain prior queries' garbage before measuring
      val first = once()
      // SPARK_GRAFT_BENCH_ITERS trims repeats for scale REHEARSALS (sf1+),
      // where the quadratic-by-design baselines make each pass minutes long
      // and growth ratios, not steady-state floors, are the measurement
      val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
      name -> (if (first < 0) first
               else (1 until iters).foldLeft(first)((m, _) => math.min(m, once())))
    }
    // 3-decimal timings: the harness reading this line keeps only a bounded
    // stdout tail, so the line must stay short even as queries are added —
    // full-precision doubles pushed 70 queries past that window (r3/r4
    // parsed=null). 1 ms resolution is below run-to-run noise anyway.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // heap matters for interpretation: an undersized driver turns the big
    // shuffles into spill benchmarks (q_embed_knn 36->207s at sf1 on 8g)
    val heapGb = Runtime.getRuntime.maxMemory / (1L << 30)
    val exJson =
      if (excluded.isEmpty) ""
      else excluded.toSeq.sorted
        .map(n => "\"" + n + "\"").mkString(",\"excluded\":[", ",", "]")
    val json = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"heap_gb":$heapGb$exJson}"""
    println(json)
    Files.writeString(Paths.get("BENCH_LOCAL.json"), json + "\n")
    spark.stop()
  }
}
