"""graft benchmark: closed-loop workloads over SparkEntry.queries.

    python3 graftbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness with sbt and generates the inputs, all under .bench_build/; later
runs reuse them while the sources are unchanged. Each run launches one
fresh JVM (`java` on the compiled classpath, with build.sbt's javaOptions),
checks every query's output checksum, runs untimed warm passes and then
the workload's fixed number of timed passes, more if --seconds asks for
more (see timed_passes). The last stdout line is the result JSON; the
lines before it are a human-readable report with the host record.

--trace 1 runs the same workload with the benchmark's listeners on half
the timed passes, reports the per-layer metrics and writes the span file
to .bench_build/traces/. See graftbench/README.md for the metrics.

    python3 graftbench/run.py --record-checksums   # re-record reference sums
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen_data  # noqa: E402
import metrics as M  # noqa: E402

BUILD = ROOT / ".bench_build"
SF = 0.01          # input scale (lineitem 60k rows); see README.md
DATA_SEED = 42     # the tables are fixed; --seed permutes query order
JVM_TIMEOUT_S = 160  # a run must end within 180 s
NOMINAL_PASS_S = 5.0  # a timed pass of either workload on a busy 4-vCPU host
# the heap cap build.sbt's javaOptions take from SPARK_DRIVER_MEM (8g when
# unset). At 1g the heap reaches its cap in every run and collections are
# regular, so peak_rss_mb and live_heap_mb repeat from run to run; at 8g,
# G1's heap growth and the ContextCleaner's GC-driven unpersists moved
# peak_rss_mb between 2.5 and 3.9 GB and live_heap_mb between 104 and
# 239 MB. See README.md for what the cap costs in GC time.
DRIVER_MEM = "1g"
CHECKSUMS = HERE / "checksums.json"

# queries, untimed warm passes after the checksum pass, and timed passes
# (an even count, so a traced run splits them evenly between untraced and
# traced). README.md records the convergence curves the warm counts come
# from. query_tail_x leaves M.TAIL_BEYOND executions beyond it, so it sits
# at p66.7 of analytics' 30 executions and at p16.7, below the median, of
# curation's 12. A p75 needs 40 executions, which would add about 6 s to
# an analytics run and 30 s to a curation run, and a comparison of two
# commits (48 runs and two builds) has to fit in an hour.
WORKLOADS = {
    # Warp's interactive operator algebra: scan, per-row kernels, reducers
    # and formula assembly, with almost no eager materialization
    "analytics": (["q1_agg", "q_join_inner", "q_formula_calc", "q_func_math",
                   "q_asof_join"], 2, 6),
    # the training-data pipeline: near-duplicate joins (one lazy, one with
    # eager checkpoints and driver rounds) and a stateful stream sessionizer
    # that writes its parquet fixture and runs micro-batches
    "curation": (["q_dedup_fuzzy", "q_dedup_ppjoin", "q_stream_sessionize"], 1, 4),
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_gm_s", "s"),
              ("query_tail_x", "ratio"), ("peak_rss_mb", "MB"), ("live_heap_mb", "MB"),
              ("ok_frac", "ratio")]

# per-layer metric: (name, unit, key in an execution's record, scale, how a
# pass combines its executions). A record is the tracer's totals for the
# execution plus the harness's own fields (build_s, live_rdds, storage_mb).
PER_EXEC = [
    ("driver.build_s", "s", "build_s", 1, sum),
    ("plans.plan_s", "s", "plan_ms", 1e-3, sum),
    ("plans.jobs", "count", "jobs", 1, sum),
    ("plans.stages", "count", "stages", 1, sum),
    ("plans.tasks", "count", "tasks", 1, sum),
    ("exec.cpu_s", "s", "cpu_ns", 1e-9, sum),
    ("exec.run_s", "s", "run_ms", 1e-3, sum),
    ("exec.gc_s", "s", "gc_ms", 1e-3, sum),
    ("exec.skew_x", "ratio", "skew_x", 1, max),
    ("ops.agg_s", "s", "agg_ms", 1e-3, sum),
    ("ops.sort_s", "s", "sort_ms", 1e-3, sum),
    ("ops.join_build_s", "s", "join_build_ms", 1e-3, sum),
    ("sources.input_mb", "MB", "input_bytes", 1e-6, sum),
    ("sources.input_rows", "count", "input_rows", 1, sum),
    ("sources.scan_s", "s", "scan_ms", 1e-3, sum),
    ("sources.output_mb", "MB", "output_bytes", 1e-6, sum),
    ("sources.output_rows", "count", "output_rows", 1, sum),
    ("sources.files_written", "count", "files_written", 1, sum),
    ("sources.commit_s", "s", "commit_ms", 1e-3, sum),
    ("shuffle.write_mb", "MB", "shuffle_write_bytes", 1e-6, sum),
    ("shuffle.read_mb", "MB", "shuffle_read_bytes", 1e-6, sum),
    ("shuffle.records", "count", "shuffle_records", 1, sum),
    ("shuffle.fetch_wait_s", "s", "fetch_wait_ms", 1e-3, sum),
    ("shuffle.spill_mb", "MB", "spill_bytes", 1e-6, sum),
    ("cache.live_rdds", "count", "live_rdds", 1, max),
    ("cache.storage_mb", "MB", "storage_mb", 1, max),
    ("stream.batches", "count", "stream_batches", 1, sum),
    ("stream.trigger_s", "s", "stream_trigger_ms", 1e-3, sum),
    ("stream.planning_s", "s", "stream_planning_ms", 1e-3, sum),
    ("stream.addbatch_s", "s", "stream_addbatch_ms", 1e-3, sum),
    ("stream.commit_s", "s", "stream_commit_ms", 1e-3, sum),
    ("stream.state_rows", "count", "stream_state_rows", 1, sum),
]
# per-layer metric read from each pass's counters: (name, unit, counter)
PER_PASS = [
    ("jvm.cpu_s", "s", "jvm_cpu_s"),
    ("jvm.gc_s", "s", "jvm_gc_s"),
    ("jvm.jit_s", "s", "jvm_jit_s"),
    ("host.steal_s", "s", "steal_s"),
    ("host.ref_s", "s", "ref_s"),
]
SELF_KINDS = ["pass", "query", "build", "exec", "job", "stage"]
PER_RUN = [("tmp.leaked_mb", "MB"), ("trace.overhead_x", "ratio")] + \
    [("self.%s_s" % k, "s") for k in SELF_KINDS]


def per_layer_names():
    return [(n, u) for n, u, *_ in PER_EXEC + PER_PASS] + PER_RUN


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            if "target" in p.relative_to(ROOT).parts:
                continue
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt once per source state; return
    (classpath, jvm options)."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
               HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]
    missing = [str(p.relative_to(ROOT)) for p in sources if not p.exists()]
    if missing:
        sys.exit("graftbench: not a graft checkout, missing %s" % ", ".join(missing))
    stamp = tree_hash(sources) + "-" + DRIVER_MEM
    manifest, stamp_file = BUILD / "manifest.txt", BUILD / "manifest.stamp"
    if not (manifest.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        BUILD.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=%s/.sbt/repositories -Dsbt.offline=true -Xmx4g"
                       % Path.home())
        # keep sbt's scratch files (server sockets, perf data) in the checkout
        tmp = BUILD / "sbt-tmp"
        tmp.mkdir(exist_ok=True)
        env["TMPDIR"] = str(tmp)
        env["SBT_OPTS"] += " -Djava.io.tmpdir=%s -XX:-UsePerfData -Dsbt.server.autostart=false" % tmp
        t0 = time.time()
        with open(BUILD / "build.log", "w") as out:
            rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "benchManifest"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0:
            sys.exit("graftbench: build failed (rc=%d), see %s" % (rc, BUILD / "build.log"))
        shutil.copy(HERE / "target" / "manifest.txt", manifest)
        stamp_file.write_text(stamp)
        log("graftbench: built in %.1f s" % (time.time() - t0))
    lines = manifest.read_text().splitlines()
    return lines[0], [o for o in lines[1:] if o]


def inputs():
    stamp = tree_hash([HERE / "gen_data.py"]) + "-%s-%d" % (SF, DATA_SEED)
    d = BUILD / "data"
    if (d / "stamp").exists() and (d / "stamp").read_text() == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen_data.generate(str(d), SF, DATA_SEED)
    (d / "stamp").write_text(stamp)
    return d


def du_mb(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file()) / 1e6


def launch(classpath, jvm_opts, args, run_dir):
    """Run the harness in a fresh JVM; return (result dict, launch epoch s)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java"] + jvm_opts +
           ["-XX:-UsePerfData", "-Djava.io.tmpdir=%s" % tmp, "-cp", classpath,
            "graftbench.Harness", "--local-dir", str(run_dir / "local")] + args)
    launched = time.time()
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or Ctrl-C: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        sys.exit("graftbench: harness failed (%s):\n%s" % (rc, "\n".join(tail)))
    return json.loads((run_dir / "result.json").read_text()), launched


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def timed_passes(workload, seconds):
    """The workload's timed passes, or more (still even) if --seconds asks
    for more at the nominal pass time. Every run of a workload does the same
    work, whatever the host's speed."""
    n = max(WORKLOADS[workload][2], math.ceil(seconds / NOMINAL_PASS_S))
    return n + n % 2


def run_harness(workload, seed, seconds, trace, warm=None, passes=None):
    """One run in a fresh JVM; warm and passes override the workload's."""
    queries, default_warm, _ = WORKLOADS[workload]
    warm = default_warm if warm is None else warm
    passes = timed_passes(workload, seconds) if passes is None else passes
    classpath, jvm_opts = build()
    data = inputs()
    run_dir = BUILD / "runs" / ("%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spans = BUILD / "traces" / ("%s-seed%d.spans.jsonl" % (workload, seed))
    spans.parent.mkdir(parents=True, exist_ok=True)
    args = ["--data", str(data), "--workload", workload,
            "--queries", ",".join(queries), "--seed", str(seed),
            "--warm", str(warm), "--passes", str(passes),
            "--trace", "1" if trace else "0", "--cpus", str(cpus()),
            "--out", str(run_dir / "result.json"), "--spans", str(spans)]
    try:
        res, launched = launch(classpath, jvm_opts, args, run_dir)
        # what the run left in its java.io.tmpdir and spark.local.dir
        res["tmp_leaked_mb"] = du_mb(run_dir / "tmp") + du_mb(run_dir / "local")
        res["setup_s"] = res["timed_start_epoch_us"] / 1e6 - launched
        res["session_s"] = res["session_ready_epoch_us"] / 1e6 - launched
        res["cold_pass_s"] = (res["checked_epoch_us"] - res["session_ready_epoch_us"]) / 1e6
        res["spans_file"] = str(spans.relative_to(ROOT)) if trace else None
        if trace:
            # per traced query execution: the tracer's layer totals
            table = {e["tag"]: dict(res["layers"].get(e["tag"], {}), query=e["q"], pass_index=p["index"],
                                    build_s=e["build_s"], exec_s=e["exec_s"])
                     for p in res["passes"] if p["traced"] for e in p["execs"]}
            layers = spans.with_name(spans.name.replace(".spans.jsonl", ".layers.json"))
            layers.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
            res["layers_file"] = str(layers.relative_to(ROOT))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return res


def selftest(name):
    """Run one of the harness's self-tests in a fresh JVM; return its JSON."""
    classpath, jvm_opts = build()
    run_dir = BUILD / "runs" / ("selftest-%s-%d" % (name, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        return launch(classpath, jvm_opts, ["--selftest", name, "--out", str(run_dir / "result.json")],
                      run_dir)[0]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def reference_checksums():
    ref = json.loads(CHECKSUMS.read_text())
    if ref["sf"] != SF or ref["data_seed"] != DATA_SEED:
        sys.exit("graftbench: checksums.json was recorded for other inputs")
    return ref["queries"]


def check_outputs(res):
    """Per-query (ok, note) from the run's checksum execution."""
    ref = reference_checksums()
    out = {}
    for q, c in res["checksums"].items():
        if c["error"]:
            out[q] = (False, "error: " + c["error"])
        elif ref.get(q) != c["value"]:
            out[q] = (False, "checksum %s != recorded %s" % (c["value"], ref.get(q)))
        else:
            out[q] = (True, "ok")
    return out


def timed_samples(passes):
    return [(e["q"], e["wall_s"]) for p in passes for e in p["execs"] if not e["error"]]


def failures(res, checks):
    """(attempted, failed) over every execution of the run: an execution fails
    when it raised or when its query's output checksum did not match."""
    execs = [e for p in res["warm_passes"] + res["passes"] for e in p["execs"]]
    failed = sum(1 for ok, _ in checks.values() if not ok) + \
        sum(1 for e in execs if e["error"] or not checks[e["q"]][0])
    return len(execs) + len(checks), failed


def end_to_end(res, checks):
    """The end-to-end metrics, and (percentile, samples) of the tail."""
    passes = [p for p in res["passes"] if not p["traced"]]
    samples = timed_samples(passes)
    tail, pct, n = M.tail_ratio(samples)
    attempted, failed = failures(res, checks)
    values = {
        "setup_s": res["setup_s"],
        "pass_s": M.median([p["wall_s"] for p in passes]),
        "query_gm_s": M.geomean(M.query_medians(samples).values()),
        "query_tail_x": tail,
        "peak_rss_mb": res["peak_rss_mb"],
        "live_heap_mb": res["live_heap_mb"],
        "ok_frac": (attempted - failed) / attempted,
    }
    return values, (pct, n)


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    values = {}
    for name, _, key, scale, combine in PER_EXEC:
        values[name] = M.median([
            combine([dict(res["layers"].get(e["tag"], {}), **e).get(key, 0) * scale
                     for e in p["execs"]]) for p in traced])
    for name, _, key in PER_PASS:
        values[name] = M.median([p["counters"][key] for p in traced])
    values["tmp.leaked_mb"] = res["tmp_leaked_mb"]
    values["trace.overhead_x"] = (M.median([p["wall_s"] for p in traced]) /
                                  M.median([p["wall_s"] for p in untraced]))
    spans = [json.loads(line) for line in (ROOT / res["spans_file"]).read_text().splitlines()]
    parent = {s["id"]: s["parent"] for s in spans}
    kind = {s["id"]: s["kind"] for s in spans}

    def pass_of(sid):
        while sid and kind.get(sid) != "pass":
            sid = parent.get(sid)
        return sid
    per_kind = {k: defaultdict(float) for k in SELF_KINDS}
    for sid, t in M.self_times(spans).items():
        if kind[sid] in per_kind and pass_of(sid):
            per_kind[kind[sid]][pass_of(sid)] += t / 1e6
    for k, per_pass in per_kind.items():
        values["self.%s_s" % k] = M.median(list(per_pass.values())) if per_pass else 0.0
    return values


def report(res, checks, tail):
    log("workload %s  cpus %d  setup %.2f s (session %.2f, checksum/cold pass %.2f, warm %.2f)  "
        "timed %.1f s  peak rss %.0f MB  live heap %.0f MB  leaked tmp %.2f MB" % (
            res["workload"], res["cpus"], res["setup_s"], res["session_s"], res["cold_pass_s"],
            sum(p["wall_s"] for p in res["warm_passes"]), res["timed_s"], res["peak_rss_mb"],
            res["live_heap_mb"], res["tmp_leaked_mb"]))
    for q, (ok, note) in sorted(checks.items()):
        if not ok:
            log("  output check FAILED %s: %s" % (q, note))
    for p in res["warm_passes"]:
        log("  warm  pass %3d  wall %.3f s" % (p["index"], p["wall_s"]))
    log("  pass  traced  wall_s  steal_s  ref_s  jvm_cpu_s  jvm_gc_s  jvm_jit_s")
    for p in res["passes"]:
        c = p["counters"]
        log("  %4d  %6s  %6.3f  %7.3f  %5.3f  %9.2f  %8.3f  %9.3f" % (
            p["index"], "yes" if p["traced"] else "no", p["wall_s"], c["steal_s"], c["ref_s"],
            c["jvm_cpu_s"], c["jvm_gc_s"], c["jvm_jit_s"]))
    meds = M.query_medians(timed_samples([p for p in res["passes"] if not p["traced"]]))
    log("  query medians (s): " + "  ".join("%s %.3f" % kv for kv in sorted(meds.items())))
    if tail:
        log("  query_tail_x at p%.1f of %d executions" % tail)


def record_checksums():
    """Record each query's checksum from two fresh JVMs; keep only queries
    whose two executions agree."""
    sums = {}
    for w in WORKLOADS:
        a = run_harness(w, 1, 0, False, warm=0, passes=0)["checksums"]
        b = run_harness(w, 2, 0, False, warm=0, passes=0)["checksums"]
        for q in WORKLOADS[w][0]:
            va, vb = a[q]["value"], b[q]["value"]
            if va is None or va != vb:
                log("%s: executions disagree or failed (%s / %s); leave it out" % (q, va, vb))
            else:
                sums[q] = va
    CHECKSUMS.write_text(json.dumps({"sf": SF, "data_seed": DATA_SEED, "queries": sums},
                                    indent=1, sort_keys=True) + "\n")
    log("recorded %d checksums in %s" % (len(sums), CHECKSUMS.relative_to(ROOT)))


def exit_on_sigterm():
    """Turn SIGTERM into SystemExit, so launch() stops its JVM on the way out."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("graftbench: terminated"))


def main():
    exit_on_sigterm()
    ap = argparse.ArgumentParser(description="graft closed-loop benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-checksums", action="store_true")
    a = ap.parse_args()
    if a.record_checksums:
        return record_checksums()
    if not a.workload:
        ap.error("--workload is required")
    res = run_harness(a.workload, a.seed, a.seconds, bool(a.trace))
    checks = check_outputs(res)
    attempted, failed = failures(res, checks)
    if a.trace:
        values, units, tail = per_layer(res), dict(per_layer_names()), None
    else:
        (values, tail), units = end_to_end(res, checks), dict(END_TO_END)
    report(res, checks, tail)
    if a.trace:
        log("  spans: %s  per-execution layers: %s" % (res["spans_file"], res["layers_file"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    main()
