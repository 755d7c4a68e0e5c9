"""Steadiness check: two sets of N seeded runs per workload, compared.

    python3 perfbench/steady.py --runs 10 [--workload tpch_10x ...] [--first-seed 1]

Runs ``perfbench/run.py`` once per seed, one run at a time, with the
run length from BENCHMARK.json. Set 1 uses seeds first-seed ...
first-seed + N - 1 and set 2 the next N, and every workload's set 1
runs before any set 2, so the sets are apart in time as well as in
seeds. For every end-to-end metric of every set it prints the median,
the first and third quartiles (``statistics.quantiles(values, n=4)``)
and the spread, (Q3 - Q1) / median, next to the metric's bound; then
the shift of set 2's median from set 1's, as a share of set 1's.

Exit code 1 if any run fails or is incorrect, if any spread or any
worsening shift is above its metric's bound, or if the share of failed
operations differs between runs. A spread above a third of its bound
(the steadiness aimed for) is marked but does not fail the check. Each
run's result line is appended to ``perfbench/out/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def _run(wl: str, seed: int, seconds: int, log: str) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"{wl} seed {seed}: exit {proc.returncode}, no result", flush=True)
        return None
    res = json.loads(lines[-1])
    context = [ln.split("[perfbench] ", 1)[1] for ln in proc.stderr.splitlines() if ln.startswith("[perfbench] {")]
    with open(log, "a") as fh:
        fh.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall, **res,
                             "context": json.loads(context[-1]) if context else None}) + "\n")
    print(f"{wl} seed {seed}: " + ", ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items())
          + f", failed {res['failed']}/{res['attempted']}, correct={res['correct']}, run {wall:.1f}s", flush=True)
    res["wall_s"] = wall
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    log = os.path.join(HERE, "out", "steady.jsonl")
    workloads = args.workload or names

    results: dict[str, list[list[dict]]] = {wl: [] for wl in workloads}
    ok = True
    for k in range(SETS):
        for wl in workloads:
            first = args.first_seed + k * args.runs
            got = [_run(wl, s, bench["run_seconds"], log) for s in range(first, first + args.runs)]
            ok &= all(r is not None and r["correct"] for r in got)
            results[wl].append([r for r in got if r is not None])

    for wl, sets in results.items():
        runs = [r for s in sets for r in s]
        if not runs:
            continue
        shares = sorted({(r["failed"], r["attempted"]) for r in runs})
        if len({f / a for f, a in shares}) > 1:
            ok = False
        print(f"== {wl}: {len(runs)} runs in {len(sets)} sets, mean run {statistics.mean(r['wall_s'] for r in runs):.1f}s,"
              f" failed/attempted seen {shares}")
        medians = []
        for k, s in enumerate(sets):
            medians.append({})
            for name, m in metrics.items():
                vs = [r["metrics"][name]["value"] for r in s]
                if len(vs) < 2:
                    continue
                q1, _, q3 = statistics.quantiles(vs, n=4)
                med = statistics.median(vs)
                medians[k][name] = med
                spread = (q3 - q1) / med
                flag = ""
                if spread > m["bound"]:
                    flag, ok = "  <-- above its bound", False
                elif spread > m["bound"] / 3:
                    flag = "  (above a third of its bound)"
                print(f"   set {k + 1} {name:12s} median {med:9.4f}  q1 {q1:9.4f}  q3 {q3:9.4f}"
                      f"  spread {spread:6.3f}  bound {m['bound']}{flag}")
        for k in range(1, len(medians)):
            for name, m in metrics.items():
                if name not in medians[0] or name not in medians[k]:
                    continue
                shift = (medians[k][name] - medians[0][name]) / medians[0][name]
                worse = shift if m["better"] == "lower" else -shift
                flag = ""
                if worse > m["bound"]:
                    flag, ok = "  <-- worse by more than its bound", False
                print(f"   set {k + 1} vs 1 {name:12s} median shift {shift:+7.3f}  bound {m['bound']}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
