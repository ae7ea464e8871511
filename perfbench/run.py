#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  Prints progress and the
inputs' properties, then, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).
Everything the run writes goes under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/`` (the full result and the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def declared() -> dict:
    with open(BENCH) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "chearch_spark", "search.py")):
        print(f"perfbench: no program source (chearch_spark/) under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the program from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench import session, workloads
    from perfbench.trace import NullTracer, Tracer

    spec = declared()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = None

    tracer = Tracer() if args.trace else NullTracer()
    t0 = time.perf_counter()
    spark = session.start_spark(work)
    ctx = workloads.Ctx(spark=spark, work=work, seed=args.seed,
                        seconds=args.seconds, tracer=tracer,
                        session_s=time.perf_counter() - t0)
    crashed = None
    try:
        workloads.WORKLOADS[args.workload](ctx)
    except Exception as e:  # noqa: BLE001 - reported, run marked failed
        crashed = f"{type(e).__name__}: {e}"
        traceback.print_exc()
    finally:
        session.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if crashed:
        print(f"perfbench: workload {args.workload} crashed: {crashed}",
              file=sys.stderr)
        return 1

    want = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        metrics = {m["name"]: {"value": float(ctx.layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in want}
    else:
        missing = [m["name"] for m in want if m["name"] not in ctx.metrics]
        if missing:
            print(f"perfbench: metrics not measured: {missing}",
                  file=sys.stderr)
            return 1
        metrics = {m["name"]: {"value": float(ctx.metrics[m["name"]][0]),
                               "unit": ctx.metrics[m["name"]][1]}
                   for m in want}
    for cause in ctx.failures:
        print(f"FAILED {cause}")
    print("INPUTS " + json.dumps(ctx.info, sort_keys=True))
    result = {"correct": not ctx.failures, "attempted": max(ctx.attempted, 1),
              "failed": len(ctx.failures), "metrics": metrics}
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({**result, "inputs": ctx.info, "failures": ctx.failures,
                   "seconds": args.seconds}, f, indent=1, sort_keys=True)
    if args.trace:
        tracer.dump(os.path.join(out_dir, stem + ".spans.json"))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
