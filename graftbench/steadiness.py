"""Steadiness report: run one workload on several seeds and print each run's
end-to-end metrics beside its host record, then each metric's quartile
spread ((q3 - q1) / median) next to its bound from BENCHMARK.json.

    python3 graftbench/steadiness.py --workload curation --seeds 1-10

host.steal_s and host.ref_s are per-pass medians of the run's timed passes:
hypervisor steal time and the time of a fixed Spark job that calls no graft
code. When a metric moves together with them, the host moved, not the code.
"""
import argparse
import json
import sys
import time
from pathlib import Path

import run as R
import metrics as M


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    R.exit_on_sigterm()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(R.WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    bench = json.loads((R.ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = [n for n, _ in R.END_TO_END]
    rows = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        res = R.run_harness(a.workload, seed, seconds, False)
        checks = R.check_outputs(res)
        values, (tail_pct, _) = R.end_to_end(res, checks)
        attempted, failed = R.failures(res, checks)
        timed = [p for p in res["passes"] if not p["traced"]]
        rows.append(dict(values, seed=seed, failed=failed, attempted=attempted,
                         steal=M.median([p["counters"]["steal_s"] for p in timed]),
                         ref=M.median([p["counters"]["ref_s"] for p in timed]),
                         session=res["session_s"], cold=res["cold_pass_s"],
                         passes=len(timed), tail_pct=tail_pct, wall=time.time() - t0))
        r = rows[-1]
        print("seed %3d  " % seed + "  ".join("%s %.4g" % (n, r[n]) for n in names) +
              "  | session %.1f s  cold %.1f s  passes %d  tail p%.1f  failed %d/%d"
              "  host.steal_s %.3f  host.ref_s %.3f  run %.1f s"
              % (r["session"], r["cold"], r["passes"], r["tail_pct"], failed, attempted,
                 r["steal"], r["ref"], r["wall"]),
              flush=True)
    if len(rows) >= 2:
        print("%-13s %10s %8s %8s" % ("metric", "median", "spread", "bound"))
        for n in names + ["steal", "ref", "wall"]:
            vals = [r[n] for r in rows]
            spread = M.quartile_spread(vals) if len(vals) > 2 and M.median(vals) else 0.0
            print("%-13s %10.4g %8.3f %8s" % (n, M.median(vals), spread, bounds.get(n, "-")))
    out = R.BUILD / "steadiness" / ("%s.json" % a.workload)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(rows, indent=1) + "\n")


if __name__ == "__main__":
    sys.exit(main())
