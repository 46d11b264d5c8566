#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 22 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` measures them untraced, then again traced, and
prints the per-layer metrics and the tracing overhead. ``--workload all``
runs every workload of BENCHMARK.json, each in a fresh process. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit, as listed in
BENCHMARK.json).
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("query_mix", "stream_ingest")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str) -> None:
    """Everything the Spark JVM and its Python workers inherit; must run
    before the session starts. All scratch space stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # a missing protobuf runtime must not be provisioned into site-packages
    os.environ["SMARTPIPELINE_SPARK_NO_PROVISION"] = "1"
    # workers unpickle the benchmark's stage classes by module name
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    # the driver re-emits every shipped stage log record (one traceback
    # per planted soft error); keep them off the terminal
    logging.getLogger().addHandler(logging.NullHandler())


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine so far, from
    /proc/stat. Steal is time a virtual machine's CPUs waited for the
    host; it is recorded, never used to filter runs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _table(title: str, rows: list[tuple[str, float, str]]) -> None:
    print(f"# {title}")
    for name, value, unit in rows:
        print(f"  {name:34s} {value:14.4f} {unit}")


def run_one(args, spec: dict) -> dict:
    sys.path.insert(0, ROOT)
    from perfbench.procs import stop_spark
    from perfbench.sparkstats import EXACT_COUNTERS, StatusApi
    from perfbench.workloads import E2E, WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    wl = None
    try:
        _environment(work)
        load_before = os.getloadavg()
        cpu_before = _cpu_jiffies()
        wl = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
        setup_s = wl.setup()
        calls = wl.phase(traced=False)
        traced = wl.phase(traced=True) if args.trace else []
        wl.tracer.enabled = bool(args.trace)
        with wl.tracer.span("check"):
            wl.check(calls + traced)
        layers = wl.layers(traced, StatusApi(wl.spark).snapshot()) if args.trace else {}
        e2e = {"setup_s": setup_s, **wl.e2e(calls)}
        attempted = wl.attempted(calls + traced)
        failed = wl.failures(calls + traced)
        load_after = os.getloadavg()
        steal, total = (a - b for a, b in zip(_cpu_jiffies(), cpu_before))
        steal_share = steal / total if total else 0.0
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        print(f"# workload {args.workload}  seed {args.seed}  calls {len(calls)}"
              f"  cores {wl.cores}  loadavg {load_before[0]:.2f} -> {load_after[0]:.2f}"
              f"  cpu steal {steal_share:.3f}")
        for i, c in enumerate(calls + traced):
            print(f"  call {i:2d}{' traced' if i >= len(calls) else '       '}"
                  f" wall {c.wall:8.3f} s  first {c.first_ms:9.1f} ms  items {c.items}"
                  + ("  RAISED" if c.raised else "") + ("  WRONG" if c.failed else ""))
            if c.key_s:
                print("           " + "  ".join(f"{k} {v:.3f}" for k, v in c.key_s.items()))
        _table("end-to-end (untraced)", [(m, e2e[m], units[m]) for m in E2E])
        print(f"  {'failed_share':34s} {failed / attempted:14.4f} ratio"
              f"  ({failed} of {attempted} calls)")
        if args.trace:
            t_e2e = wl.e2e(traced)
            for m in E2E[1:]:
                layers[f"overhead.{m}"] = t_e2e[m] - e2e[m]
            _table("end-to-end (traced)", [(m, t_e2e[m], units[m]) for m in E2E[1:]])
            metrics = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
            _table("per-layer (traced phase; 0 = layer not used by this workload)",
                   [(k, v, units[k] + (" (exact)" if k in EXACT_COUNTERS else ""))
                    for k, v in metrics.items()])
            _table("span self time, s",
                   [(k, v, "s") for k, v in sorted(wl.tracer.self_times().items())])
            span_dir = os.path.join(ROOT, ".bench_work", "spans")
            os.makedirs(span_dir, exist_ok=True)
            path = os.path.join(span_dir, f"{args.workload}-seed{args.seed}.json")
            wl.tracer.dump(path)
            print(f"# {len(wl.tracer.spans)} spans written to {os.path.relpath(path, ROOT)}")
        else:
            metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        print(json.dumps({
            "detail": args.workload,
            "loadavg_before": load_before, "loadavg_after": load_after,
            "cpu_steal_share": steal_share,
            "setup_parts_s": wl.setup_parts, "calls": len(calls),
            "traced_calls": len(traced), "failed_share": failed / attempted,
            "corpus": wl.corpus.counts(),
        }))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_spark(getattr(wl, "spark", None))
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> dict:
    """Every workload of BENCHMARK.json, each in its own process (a
    fresh JVM each)."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in [w["name"] for w in _spec()["workloads"]]:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-4000:])
            raise SystemExit(f"workload {name} exited with {out.returncode}")
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}/{k}"] = v
    return merged


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "smartpipeline_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds smartpipeline_spark/",
              file=sys.stderr)
        return 2
    spec = _spec()
    result = run_all(args) if args.workload == "all" else run_one(args, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
