package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM: a single client thread issues a
  * workload's `SparkEntry.queries` back to back (a closed loop) and records
  * per-execution times, per-pass host and JVM counters and, on traced
  * passes, per-layer Spark metrics and spans.
  *
  * Phases, in order:
  *   1. session start (graft.Bench's session conf, plus a run-local
  *      `spark.local.dir`) and Bench's untimed range warm-up;
  *   2. one checksum execution of every query (untimed, also the cold pass);
  *   3. `warm` untimed noop-write passes, so timing starts off the JIT slope;
  *   4. `passes` timed passes.
  * With `trace 1`, half the timed passes are traced, so the tracing overhead
  * is measured inside the run.
  *
  * Query order within every pass is a permutation drawn from `seed`.
  * Arguments are `--key value` pairs; see run.py, which launches this.
  */
object Harness {
  private final case class Exec(query: String, tag: String, t0: Long, tBuilt: Long, t1: Long,
      error: Option[String], liveRdds: Int, storageMb: Double) {
    def buildS: Double = (tBuilt - t0) / 1e9
    def execS: Double = (t1 - tBuilt) / 1e9
    def wallS: Double = (t1 - t0) / 1e9
  }
  private final case class Pass(index: Int, traced: Boolean, t0: Long, t1: Long,
      execs: Seq[Exec], counters: Map[String, Double])

  private val startNanos = System.nanoTime()
  private val startEpochUs = System.currentTimeMillis() * 1000L
  private def epochUs(nanos: Long): Long = startEpochUs + (nanos - startNanos) / 1000L

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a.contains("selftest")) { SelfTest.run(a("selftest"), a("out")); return }
    val data = a("data")
    val queries = a("queries").split(",").toSeq
    val warm = a("warm").toInt
    val timedPasses = a("passes").toInt
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val rng = new java.util.Random(a("seed").toLong)
    val missing = queries.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // hermetic run: shuffle, spill, block and warehouse files land in the
      // run's own directory, which run.py measures and deletes
      .config("spark.local.dir", a("local-dir"))
      .config("spark.sql.warehouse.dir", a("local-dir") + "/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // graft.Bench's untimed warm-up
    val sessionReadyEpochUs = epochUs(System.nanoTime())

    val tracer = new Tracer
    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      org.apache.spark.sql.graftbench.SparkAccess.drain(sc)
      if (on) {
        sc.addSparkListener(tracer)
        spark.streams.addListener(tracer.streams)
      } else {
        sc.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.streams)
      }
      tracing = on
    }

    def execute(q: String, tag: String, checksum: Boolean): (Exec, Option[String]) = {
      tracer.currentTag = tag
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      var tBuilt = t0
      var sum: Option[String] = None
      val error = try {
        val df = graft.SparkEntry.queries(q)(spark, data)
        tBuilt = System.nanoTime()
        if (checksum) sum = Some(SelfTest.checksum(df))
        else df.write.mode("overwrite").format("noop").save()
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $q failed: $e")
          Some(e.toString.take(300))
      } finally sc.removeJobTag(tag)
      val t1 = System.nanoTime()
      if (tBuilt == t0) tBuilt = t1
      val live = sc.getPersistentRDDs.size
      val storageMb = if (tracing) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6 else 0.0
      (Exec(q, tag, t0, tBuilt, t1, error, live, storageMb), sum)
    }

    val mx = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def counters(): Map[String, Double] = Map(
      "jvm_cpu_s" -> mx.getProcessCpuTime / 1e9,
      "jvm_gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "jvm_jit_s" -> jit.getTotalCompilationTime / 1e3,
      "steal_s" -> HostStat.stealSeconds())
    // a fixed job that calls no graft code: its time tracks host drift
    def refJob(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1000000L, 1L, cpus.toInt).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }

    def order(): Seq[String] = {
      val xs = new java.util.ArrayList[String](queries.asJava)
      java.util.Collections.shuffle(xs, rng)
      xs.asScala.toSeq
    }
    def runPass(index: Int, traced: Boolean): Pass = {
      setTracing(traced)
      val c0 = counters()
      val t0 = System.nanoTime()
      val execs = order().zipWithIndex.map { case (q, i) =>
        execute(q, s"${Tracer.TagPrefix}p$index-$i-$q", checksum = false)._1
      }
      val t1 = System.nanoTime()
      val c1 = counters()
      val ref = refJob()
      Pass(index, traced, t0, t1, execs,
        c1.map { case (k, v) => k -> (v - c0(k)) } + ("ref_s" -> ref))
    }

    // 2. checksum pass (cold)
    val checks = order().map { q =>
      val (e, sum) = execute(q, s"${Tracer.TagPrefix}check-$q", checksum = true)
      q -> (e, sum)
    }
    val checkedEpochUs = epochUs(System.nanoTime())
    // 3. untimed warm passes
    val warmPasses = (1 to warm).map(i => runPass(-i, traced = false))
    // 4. timed passes
    val timedStartEpochUs = epochUs(System.nanoTime())
    val tStart = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Pass]
    // traced runs order passes untraced, traced, traced, untraced (ABBA), so a
    // pass time still falling with JIT warm-up does not bias the overhead
    while (passes.size < timedPasses)
      passes += runPass(passes.size, traced = trace && Set(1, 2)(passes.size % 4))
    val tEnd = System.nanoTime()
    setTracing(false)
    val peakRssMb = HostStat.vmHwmMb()
    // what the run still holds (cached blocks, memory-sink tables, leaked
    // plans): the heap that is reachable after a full collection
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    def execJson(e: Exec): Map[String, Any] = Map(
      "q" -> e.query, "tag" -> e.tag, "build_s" -> e.buildS, "exec_s" -> e.execS,
      "wall_s" -> e.wallS, "error" -> e.error, "live_rdds" -> e.liveRdds, "storage_mb" -> e.storageMb)
    def passJson(p: Pass): Map[String, Any] = Map(
      "index" -> p.index, "traced" -> p.traced, "wall_s" -> (p.t1 - p.t0) / 1e9,
      "counters" -> p.counters, "execs" -> p.execs.map(execJson))
    val result = Map(
      "workload" -> a("workload"),
      "cpus" -> cpus.toInt,
      "jvm_start_epoch_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_epoch_us" -> sessionReadyEpochUs,
      "checked_epoch_us" -> checkedEpochUs,
      "timed_start_epoch_us" -> timedStartEpochUs,
      "timed_s" -> (tEnd - tStart) / 1e9,
      "peak_rss_mb" -> peakRssMb,
      "live_heap_mb" -> liveHeapMb,
      "checksums" -> checks.map { case (q, (e, sum)) =>
        q -> Map("value" -> sum, "error" -> e.error, "wall_s" -> e.wallS) }.toMap,
      "warm_passes" -> warmPasses.map(passJson),
      "passes" -> passes.map(passJson),
      "layers" -> (if (trace) tracer.perExec else Map.empty))
    Files.writeString(Paths.get(a("out")), Json(result))

    if (trace) {
      // run -> pass -> query -> {build, exec} -> job -> stage
      val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
      def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long): Unit =
        spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
          "start_us" -> s, "end_us" -> e)
      span("run", "", "run", a("workload"), startEpochUs, epochUs(tEnd))
      val builtAt = mutable.Map.empty[String, Long] // query tag -> end of its build
      passes.filter(_.traced).foreach { p =>
        val pid = s"pass${p.index}"
        span(pid, "run", "pass", pid, epochUs(p.t0), epochUs(p.t1))
        p.execs.foreach { e =>
          span(e.tag, pid, "query", e.query, epochUs(e.t0), epochUs(e.t1))
          span(e.tag + "/build", e.tag, "build", e.query, epochUs(e.t0), epochUs(e.tBuilt))
          span(e.tag + "/exec", e.tag, "exec", e.query, epochUs(e.tBuilt), epochUs(e.t1))
          builtAt(e.tag) = epochUs(e.tBuilt)
        }
      }
      tracer.spans.foreach {
        case ("job", id, tag, s, e) if builtAt.contains(tag) =>
          val phase = if (s * 1000L < builtAt(tag)) "/build" else "/exec"
          span(s"job$id", tag + phase, "job", s"job$id", s * 1000L, e * 1000L)
        case ("stage", id, job, s, e) =>
          span(s"stage$id", s"job$job", "stage", s"stage$id", s * 1000L, e * 1000L)
        case _ =>
      }
      val known = spans.map(_("id")).toSet
      val kept = spans.filter(s => s("parent") == "" || known(s("parent")))
      Files.writeString(Paths.get(a("spans")), kept.map(Json(_)).mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}

/** Host and process counters read from /proc. */
object HostStat {
  private val userHz = 100.0

  /** Cumulative hypervisor steal time over all CPUs, in seconds. */
  def stealSeconds(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
    cpu.map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / userHz).getOrElse(0.0)
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
