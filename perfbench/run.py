"""Run one benchmark workload, or every workload with ``--workload all``.

    python3 perfbench/run.py --workload registry_reads --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout: the package is imported from
there and Python workers get the same path. The registry tables are
``perfbench/data/sf0.01``; the ``sync_serve`` fixtures are generated
from ``--seed`` under ``.perfbench/`` in the checkout, which is also
where the run's details (and, with ``--trace 1``, its spans) are written.
The last line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

holding the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``. ``--workload all`` instead runs each
workload untraced and traced in child processes and prints every
metric, the sample counts and the tracing overhead as a table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry_reads", "sync_serve")
# what each end-to-end metric measures on each workload
MEANING = {
    "registry_reads": {"rate_per_s": "queries_per_s", "latency_p50_s": "query_p50_s"},
    "sync_serve": {"rate_per_s": "sync_blocks_per_s", "latency_p50_s": "serve_p50_s"},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let
    Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, HERE]


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "ethereum_analytical_db_spark")):
        print(f"no ethereum_analytical_db_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work)
    import workloads

    cpus = len(os.sched_getaffinity(0))
    b = workloads.Bench(work, args.seed, args.seconds, bool(args.trace), cpus)
    try:
        if args.workload == "sync_serve":
            workloads.run_sync_serve(b)
        else:
            workloads.run_reads(b)
    except Exception:  # noqa: BLE001 - a run that cannot finish prints no result
        traceback.print_exc()
        return 1
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)

    names = declared()[args.trace]
    source = b.layer if args.trace else b.e2e
    if set(source) != set(names):
        print(f"measured {sorted(source)}, BENCHMARK.json declares {sorted(names)}",
              file=sys.stderr)
        return 1
    metrics = {n: {"value": source[n], "unit": names[n]} for n in names}
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": b.attempted, "failed": b.failed,
        "ops_failed_ratio": b.failed / max(b.attempted, 1),
        "problems": b.problems,
        "end_to_end": b.e2e,
        "per_layer": b.layer,
        **b.extra,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(details, f, indent=1)
    if args.trace:
        b.tracer.write(os.path.join(out_dir, f"{tag}-spans.json"), details)
    for p in b.problems:
        print(f"# FAILED {p}")
    for k, v in sorted({**b.e2e, **b.layer}.items()):
        print(f"# {k} = {v}")
    for k, v in sorted(b.extra.items()):
        print(f"# {k} = {json.dumps(v)}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, and one table of results."""
    rows, ok = [], True
    for w in WORKLOADS:
        got = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            t0 = time.perf_counter()
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if res.returncode != 0:
                print(res.stderr[-3000:], file=sys.stderr)
                return res.returncode
            path = os.path.join(ROOT, ".perfbench", "out",
                                f"{w}-seed{args.seed}-trace{trace}.json")
            with open(path) as f:
                got[trace] = json.load(f)
            got[trace]["wall_s"] = time.perf_counter() - t0
        ok &= got[0]["failed"] == 0 and got[1]["failed"] == 0
        rows.append((w, got))
    for w, got in rows:
        plain, traced = got[0], got[1]
        print(f"== {w}: {plain['passes']} timed passes, {plain['samples']} latency "
              f"samples, ops_failed_ratio {plain['ops_failed_ratio']:.4f} "
              f"({plain['failed']}/{plain['attempted']}), run {plain['wall_s']:.1f} s")
        units = declared()
        for k, v in plain["end_to_end"].items():
            over = traced["end_to_end"][k] - v
            name = f"{k} ({MEANING[w][k]})" if k in MEANING[w] else k
            print(f"  {name:36s} {v:10.4f} {units[0][k]:5s} traced {traced['end_to_end'][k]:.4f}"
                  f"  tracing overhead {over:+.4f}")
        print(f"  {'latency_tail':36s} {json.dumps(plain['latency_tail'])}")
        for k, v in sorted(traced["per_layer"].items()):
            print(f"  [trace] {k:36s} {v:.4f} {units[1][k]}")
        for k in ("stored_bytes_per_row", "build_share_by_family", "query_s", "sync"):
            if k in traced:
                print(f"  [trace] {k:36s} {json.dumps(traced[k])}")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
