"""Convergence curve: per-query and per-pass wall time over untimed passes
in one fresh JVM, the evidence for the warm-pass counts in run.py.

    python3 graftbench/curve.py --workload analytics --passes 6 --seed 1
"""
import argparse

import run as R


def main():
    R.exit_on_sigterm()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(R.WORKLOADS))
    ap.add_argument("--passes", type=int, default=6)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    res = R.run_harness(a.workload, a.seed, 0, False, warm=a.passes, passes=0)
    queries = R.WORKLOADS[a.workload][0]
    cold = {q: res["checksums"][q]["wall_s"] for q in queries}
    passes = res["warm_passes"]
    print("%-16s %7s " % ("query", "cold") + " ".join("%7s" % ("p%d" % (i + 1)) for i in range(len(passes))))
    for q in queries:
        times = [next(e["wall_s"] for e in p["execs"] if e["q"] == q) for p in passes]
        print("%-16s %7.2f " % (q, cold[q]) + " ".join("%7.2f" % t for t in times))
    print("%-16s %7.2f " % ("pass", sum(cold.values())) + " ".join("%7.2f" % p["wall_s"] for p in passes))
    for key, label in (("jvm_jit_s", "jit s"), ("steal_s", "steal s")):
        print("%-16s %7s " % (label, "") + " ".join("%7.2f" % p["counters"][key] for p in passes))


if __name__ == "__main__":
    main()
