#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload untraced and traced on a few hundred documents in
one Spark session, asserts that every metric BENCHMARK.json names is
reported with its unit and that the checks pass, then feeds the
checkers deliberately corrupted answers and asserts they are flagged.
Exits 0 when all of that holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from perfbench import checks, pipeline, run, session, workloads
    from perfbench.trace import NullTracer, Tracer

    # sf0.001-sized tables and a small Zipf corpus
    workloads.SF_DOCS = 500
    workloads.SERVE_DOCS = 800
    workloads.SERVE_STREAM = 200
    workloads.BUDGET_REQUESTS = 20
    workloads.INGEST_DOCS = 400
    workloads.BATCH_DOCS = 50
    workloads.FRESH_QUERIES = 6
    pipeline.EMBEDDINGS = 200
    spec = run.declared()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_names = {m["name"] for m in spec["per_layer"]}

    t0 = time.perf_counter()
    spark = session.start_spark(work)
    session_s = time.perf_counter() - t0

    def ctx(w: str, traced: bool):
        d = os.path.join(work, f"{w}-{int(traced)}")
        os.makedirs(d, exist_ok=True)
        return workloads.Ctx(spark=spark, work=d, seed=7, seconds=1.0,
                             tracer=Tracer() if traced else NullTracer(),
                             session_s=session_s)

    try:
        seen_layers: set[str] = set()
        for w, fn in workloads.WORKLOADS.items():
            for traced in (False, True):
                t = time.perf_counter()
                c = ctx(w, traced)
                fn(c)
                assert not c.failures, (w, traced, c.failures[:3])
                assert c.attempted > 0, (w, traced)
                if w == "serve":
                    assert c.info["requests"]["lru_evicted_terms"] > 0, (
                        "the serve LRU budget never bound")
                if traced:
                    seen_layers |= set(c.layers)
                else:
                    got = {k: u for k, (_v, u) in c.metrics.items()}
                    assert got == units, (w, got)
                    assert all(v > 0 for v, _u in c.metrics.values()), (
                        w, c.metrics)
                print(f"selftest: {w} trace={int(traced)} ok "
                      f"({time.perf_counter() - t:.1f} s)", flush=True)
        missing = layer_names - seen_layers
        assert not missing, f"per-layer metrics no workload reports: {missing}"

        # the checkers flag corrupted answers
        from chearch_spark.search import Index

        good = [(3, 2.5), (1, 1.25)]
        assert checks.ranked_mismatch(good, list(good)) is None
        assert checks.ranked_mismatch(good, [(3, 2.5), (1, 1.2500001)])
        assert checks.ranked_mismatch(good, [(1, 2.5), (3, 1.25)])
        assert checks.rows_mismatch([(1, "a")], [(1, "b")])
        original = Index.local_search

        def corrupted(self, query, k=10):
            return original(self, query, k)[1:]

        Index.local_search = corrupted
        try:
            c = ctx("serve", False)
            workloads.serve(c)
        finally:
            Index.local_search = original
        assert c.failures, "a corrupted local_search answer went unflagged"
        print(f"selftest: corrupted answers flagged "
              f"({len(c.failures)} of {c.attempted})", flush=True)
    finally:
        session.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
