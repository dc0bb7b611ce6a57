#!/usr/bin/env python3
"""A/B runner: alternate a parent checkout and a changed checkout.

    python3 perfbench/ab.py --parent DIR --change DIR [--pairs 10]
        [--workload W ...]

Each DIR is a source tree holding this benchmark (perfbench/run.py). For
every workload, pair i runs both sides on seed i for the change's
BENCHMARK.json run_seconds, alternating which side runs first. Each
end-to-end metric of BENCHMARK.json, and on store_roundtrip each of
run.STORE_END_TO_END (bound run.STORE_BOUND), then gets a verdict
(stats.ab_verdict): "better" only when the change wins at least 9 of 10
pairs and the medians differ by more than the parent's inter-quartile
range; "worse" when the change's median is worse by more than the
metric's bound; "unresolved" when the parent's own spread exceeds the
bound. One row per workload and metric is printed.
"""
import argparse
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402
import stats  # noqa: E402

PRINTED = re.compile(r"^\s+(\S+) = (\S+) \S+")


def run(tree, workload, seed, seconds):
    """Metric values of one untraced run: the JSON line's, and the ones
    printed above it (store_roundtrip's own)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{tree}: run failed\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"{tree}: {workload} seed {seed} failed its checks")
    values = {m.group(1): float(m.group(2))
              for m in map(PRINTED.match, lines[:-1]) if m}
    values.update({k: v["value"] for k, v in res["metrics"].items()})
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench_json = json.load(f)
    workloads = a.workload or [w["name"] for w in bench_json["workloads"]]
    print(f"{'workload':16s} {'metric':22s} {'parent median [q1, q3]':>32s} "
          f"{'change median [q1, q3]':>32s} {'wins':>6s}  verdict")
    for w in workloads:
        metrics = list(bench_json["end_to_end"])
        if w == "store_roundtrip":
            metrics += [{"name": n, "better": b, "bound": bench.STORE_BOUND}
                        for n, _, b in bench.STORE_END_TO_END]
        side = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for s in order:
                side[s].append(run(getattr(a, s), w, i,
                                   bench_json["run_seconds"]))
        for m in metrics:
            p = [r[m["name"]] for r in side["parent"]]
            c = [r[m["name"]] for r in side["change"]]
            wins, _ = stats.pair_wins(p, c, m["better"])
            verdict = stats.ab_verdict(p, c, m["better"], m["bound"])
            pq, cq = stats.quartiles(p), stats.quartiles(c)
            print(f"{w:16s} {m['name']:22s} "
                  f"{pq[1]:12.4f} [{pq[0]:.4f}, {pq[2]:.4f}] "
                  f"{cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}] "
                  f"{wins:3d}/{len(p):<2d}  {verdict}")


if __name__ == "__main__":
    main()
