#!/usr/bin/env python3
"""Steadiness check: two sets of untraced runs of one commit, and the
spread of every (workload, end-to-end metric) pair against its bound.

    python3 perfbench/steady.py --runs 10

Each set runs every workload ``--runs`` times, each time with another
seed, one process at a time. For each pair it prints both sets' medians,
their spread (the distance between the first and third quartile, as a
share of the median) and how far each later median moved from the first,
in either direction, as a share of the first. A pair passes when every
spread and every move stay within the bound in BENCHMARK.json.
Raw results go to ``.bench_work/steady-<time>.json``. Exits 1 if any
pair fails, and stops at once if a run fails or leaves a process
running.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def run(workload: str, seed: int, seconds: int) -> dict:
    t = time.time()
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        stdout, stderr = child.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise SystemExit(f"{workload} seed {seed} ran over 600 s")
    # the run and everything it started share the new process group
    left = procs.group(child.pid)
    if left:
        for pid in left:
            os.kill(pid, signal.SIGKILL)
        raise SystemExit(f"{workload} seed {seed} left processes running: {left}")
    lines = stdout.strip().splitlines()
    if child.returncode != 0 or not lines:
        sys.stderr.write(stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {child.returncode}")
    res = json.loads(lines[-1])
    res["detail"] = json.loads(lines[-2])
    res["elapsed_s"] = time.time() - t
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    results: dict[str, list[list[dict]]] = {w: [] for w in args.workloads}
    seed = args.first_seed
    for s in range(args.sets):
        for w in args.workloads:
            results[w].append([])
        for _ in range(args.runs):
            for w in args.workloads:
                res = run(w, seed, args.seconds)
                results[w][s].append(res)
                d = res["detail"]
                print(f"set {s + 1} {w} seed {seed}: correct={res['correct']} "
                      f"{res['elapsed_s']:.0f}s load {d['loadavg_before'][0]:.1f}"
                      f"->{d['loadavg_after'][0]:.1f} steal {d['cpu_steal_share']:.2f} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)
            seed += 1
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_work", f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(results, f)

    ok = all(r["correct"] for w in results.values() for runs in w for r in runs)
    print(f"\n{'workload':14s} {'metric':14s} {'bound':>6s} "
          + " ".join(f"{'median' + str(i + 1):>12s} {'spread' + str(i + 1):>8s}"
                     for i in range(args.sets))
          + f" {'moved':>7s}")
    for w in args.workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r["metrics"][name]["value"] for r in runs] for runs in results[w]]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            moved = max(abs(md - meds[0]) / meds[0] for md in meds)
            bad = moved > bound or any(sp > bound for sp in spreads)
            ok &= not bad
            print(f"{w:14s} {name:14s} {bound:6.2f} "
                  + " ".join(f"{md:12.4f} {sp:8.3f}" for md, sp in zip(meds, spreads))
                  + f" {moved:7.3f}"
                  + ("  FAIL" if bad else "  over a third" if max(spreads) > bound / 3 else ""))
    print(f"\nraw results: {os.path.relpath(path, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
