"""The benchmark's workloads: ``search``, ``serve`` and ``ingest``.

Each workload generates its inputs from the seed, sets the program up
``SETUP_REPS`` times (the median is ``setup_s``), runs its request
loop for the given number of seconds, snapshots the driver's peak RSS,
and only then checks every answer.  A traced run records spans around
the calls it makes into each module (see trace.py) and reports the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import os
import socket
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, corpora
from perfbench.session import cores, peak_rss_mb, spark_cores
from perfbench.trace import JobCounter

K = 10
SETUP_REPS = 3
perf = time.perf_counter
T0 = perf()


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    session_s: float
    attempted: int = 0
    failures: list = field(default_factory=list)
    info: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> value

    def fail(self, cause: str) -> None:
        self.failures.append(cause)

    def log(self, msg: str) -> None:
        print(f"perfbench {perf() - T0:8.2f}s {msg}", file=sys.stderr,
              flush=True)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def jobs(self):
        return JobCounter(self.spark.sparkContext) if self.traced else None


# -- helpers ---------------------------------------------------------------

def write_parquet(cols: dict, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)
    return path


def dir_snapshot(path: str) -> dict:
    out = {}
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                st = os.stat(os.path.join(dp, fn))
            except FileNotFoundError:
                continue
            out[os.path.join(dp, fn)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_between(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two snapshots."""
    return sum(v[1] for k, v in after.items() if before.get(k) != v)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def latency_metrics(ctx: Ctx, lat_s: list[float]) -> None:
    ctx.metrics["p50_ms"] = (pct(lat_s, 50) * 1e3, "ms")
    # printed, not bounded: too unsteady between runs (README.md)
    ctx.info["p90_ms"] = round(pct(lat_s, 90) * 1e3, 3)
    ctx.info["latency_samples"] = len(lat_s)


def timed_setup(ctx: Ctx, build_once, open_once, reps: int = SETUP_REPS):
    """The program's set-up: ``build_once() -> build_s`` once, then
    ``open_once(rep) -> handle`` (open the index, start any server,
    warm up) ``reps`` times, closing each previous handle.
    ``setup_s`` = session start + build + median open; the last
    handle is returned."""
    ctx.log("build")
    build_s = build_once()
    walls, handle = [], None
    for r in range(reps):
        if hasattr(handle, "close"):
            handle.close()
        ctx.log(f"open {r + 1}/{reps}")
        t0 = perf()
        handle = open_once(r)
        walls.append(perf() - t0)
    ctx.metrics["setup_s"] = (ctx.session_s + build_s + median(walls), "s")
    ctx.info["setup"] = {"session_s": round(ctx.session_s, 4),
                         "build_s": round(build_s, 4),
                         "open_s": [round(w, 4) for w in walls]}
    return handle, build_s


def wrap_index(ctx: Ctx, ix) -> None:
    """Spans around the Index methods a query calls internally."""
    tr = ctx.tracer
    if not tr.enabled:
        return
    inner = ix.candidate_segments

    def candidate_segments(node, allow_spark=True):
        name = "search.prune" if allow_spark else "search.local_prune"
        with tr.span(name):
            out = inner(node, allow_spark)
        total = len(ix._all_seg_ids())
        scanned = total if out is None else len(out)
        tr.count(name + ".calls")
        tr.count(name + ".scanned", scanned)
        tr.count(name + ".total", total)
        return out

    ix.candidate_segments = candidate_segments
    tr.wrap(ix, "_fuzzy_expansion_terms", "search.fuzzy_expand")
    tr.wrap(ix, "_wildcard_expansion_terms", "search.wildcard_expand")
    tr.wrap(ix, "_load_postings", "search.load_postings")
    tr.wrap(ix, "_load_meta", "search.load_meta")
    wrap_lru(ctx, ix)


def wrap_lru(ctx: Ctx, ix) -> None:
    """Count hits, misses and re-fetches of evicted keys on the driver
    LRU (it is replaced on every refresh, so wrap again after one)."""
    tr = ctx.tracer
    lru = ix._local_cache
    get, put = lru.get, lru.put
    seen: set = set()

    def g(key):
        v = get(key)
        tr.count("lru.hits" if v is not None else "lru.misses")
        return v

    def p(key, value, nbytes):
        if key in seen:
            tr.count("lru.refetches")
        seen.add(key)
        return put(key, value, nbytes)

    lru.get, lru.put = g, p


def job_layers(ctx: Ctx, prefix: str, counts: list[dict]) -> None:
    for f in ("jobs", "stages", "tasks"):
        ctx.layers[f"{prefix}.{f}_per_request"] = median(
            [c[f] for c in counts]
        )


def wrap_modules(ctx: Ctx) -> None:
    """Spans around module functions the program looks up at call
    time (parser, wire decoding, compaction, tombstone gc)."""
    if not ctx.traced:
        return
    from chearch_spark import tombstones
    from chearch_spark.plans import chasm_wire, parser
    from chearch_spark.streaming import compact

    tr = ctx.tracer
    tr.wrap(parser, "parse_query", "plans.parse")
    tr.wrap(chasm_wire, "wire_to_ast", "plans.wire_decode")
    tr.wrap(compact, "compact_stream_segments", "streaming.compact_pass")
    tr.wrap(tombstones, "gc_tombstones", "tombstones.gc")


def prune_layers(ctx: Ctx, name: str) -> None:
    c = ctx.tracer.counters
    calls = c.get(name + ".calls", 0.0)
    if calls:
        ctx.layers["search.segments_scanned"] = c[name + ".scanned"] / calls
        ctx.layers["search.segments_pruned_frac"] = 1.0 - (
            c[name + ".scanned"] / max(c[name + ".total"], 1.0)
        )


def build(ctx: Ctx, corpus_df, path: str, num_segments: int):
    from chearch_spark.build import build_index

    jc = ctx.jobs()
    t0 = perf()
    if jc is None:
        res = build_index(ctx.spark, corpus_df, path,
                          num_segments=num_segments, resume=False)
    else:
        with jc.group("build") as counts:
            res = build_index(ctx.spark, corpus_df, path,
                              num_segments=num_segments, resume=False)
        ctx.layers["build.spark_jobs"] = counts["jobs"]
    return res, perf() - t0


def build_layers(ctx: Ctx, build_s: float, path: str,
                 text_bytes: int) -> int:
    nbytes = sum(v[1] for v in dir_snapshot(path).values())
    if ctx.traced:
        ctx.layers["build.wall_s"] = build_s
        ctx.layers["build.bytes_written"] = nbytes
        ctx.layers["build.index_bytes_per_text_byte"] = nbytes / text_bytes
    return nbytes


# -- search ----------------------------------------------------------------

SF_DOCS = 5000  # the sf0.1 documents table's size
SHAPES = 11  # sf_query_strings cycles through this many query shapes
BATCHES_PER_ROUND = 2
MIN_ROUNDS = 2  # so a slow run still gives every shape two samples


def search(ctx: Ctx) -> None:
    """Spark path, closed loop, one client.  Each round is one query of
    every shape through ``Index.search(q).collect()``, then
    ``BATCHES_PER_ROUND`` ``search_many`` batches of the next ``SHAPES``
    queries each.  Only whole rounds run, so every run samples each
    shape equally often, and at least ``MIN_ROUNDS`` run."""
    from chearch_spark.search import Index

    spark, tr = ctx.spark, ctx.tracer
    docs = corpora.sf_documents(ctx.seed, SF_DOCS)
    dpath = write_parquet(docs, os.path.join(ctx.work, "documents.parquet"))
    corpus_df = spark.read.parquet(dpath).select("doc_id", "text")
    text_bytes = sum(len(t.encode()) for t in docs["text"])
    queries = corpora.sf_query_strings(ctx.seed, 40 * SHAPES)
    warm = {f"w{i}": q for i, q in enumerate(queries[:SHAPES])}
    ctx.info["corpus"] = {"docs": len(docs["text"]), "text_bytes": text_bytes,
                          "vocabulary": len(corpora.doc_freqs(docs["text"]))}
    wrap_modules(ctx)

    path = os.path.join(ctx.work, "ix")

    def build_once():
        return build(ctx, corpus_df, path, spark_cores())[1]

    def open_once(r):
        ix = Index(spark, path)
        ix.search_many(warm, k=K).collect()
        ix.search(queries[0], k=K).collect()
        return ix

    ix, build_s = timed_setup(ctx, build_once, open_once)
    nbytes = build_layers(ctx, build_s, ix.path, text_bytes)
    ctx.info["build_docs_per_s"] = round(len(docs["text"]) / build_s, 2)
    ctx.metrics["write_bytes_per_text_byte"] = (nbytes / text_bytes, "B/B")
    wrap_index(ctx, ix)
    jc = ctx.jobs()

    by_shape: list[list[float]] = [[] for _ in range(SHAPES)]
    singles, batches, counts, batch_qps = [], [], [], []
    qi = 0
    deadline = perf() + ctx.seconds
    rounds = 0
    while rounds < MIN_ROUNDS or perf() < deadline:
        rounds += 1
        for shape in range(SHAPES):
            q = queries[qi % len(queries)]
            qi += 1
            rid = f"q{ctx.attempted}"
            ctx.attempted += 1
            t0 = perf()
            try:
                with tr.span("request", rid):
                    with tr.span("search.plan"):
                        df = ix.search(q, k=K)
                    if jc is None:
                        rows = df.collect()
                    else:
                        with jc.group(rid) as c, tr.span("spark.action"):
                            rows = df.collect()
                        counts.append(c)
            except Exception as e:  # noqa: BLE001 - counted, reported
                ctx.fail(f"search {q!r}: {type(e).__name__}: {e}")
                continue
            by_shape[shape].append(perf() - t0)
            singles.append((q, [(r["doc_id"], r["score"]) for r in rows]))
        for _ in range(BATCHES_PER_ROUND):
            batch = {f"b{len(batches)}_{i}": queries[(qi + i) % len(queries)]
                     for i in range(SHAPES)}
            qi += SHAPES
            ctx.attempted += 1
            t0 = perf()
            try:
                with tr.span("request.many", f"m{len(batches)}"):
                    with tr.span("search.plan_many"):
                        df = ix.search_many(batch, k=K)
                    with tr.span("spark.many_action"):
                        rows = df.collect()
            except Exception as e:  # noqa: BLE001
                ctx.fail(f"search_many: {type(e).__name__}: {e}")
                batches.append((batch, None))
                continue
            batch_qps.append(len(batch) / (perf() - t0))
            batches.append((batch, rows))

    # ~30 single queries per run cannot carry a p90 of their own: the
    # percentiles are taken over the shapes' median latencies instead
    shape_ms = [median(x) * 1e3 for x in by_shape if x]
    ctx.metrics["p50_ms"] = (pct(shape_ms, 50), "ms")
    ctx.info["p90_ms"] = round(pct(shape_ms, 90), 3)
    ctx.metrics["throughput_per_s"] = (median(batch_qps), "1/s")
    ctx.metrics["driver_rss_mb"] = (peak_rss_mb(), "MB")
    lat = [x for xs in by_shape for x in xs]
    ctx.info["latency_samples"] = len(lat)
    ctx.info["shape_median_ms"] = [round(x, 1) for x in shape_ms]
    ctx.info["requests"] = {"single": len(lat), "rounds": rounds,
                            "batches": len(batches),
                            "batch_size": SHAPES, "clients": 1}
    if ctx.traced:
        request_layers(ctx, counts)

    # -- checks (outside the timed region) -------------------------------
    from chearch_spark.plans.parser import parse_query

    oracle = checks.bm25_oracle(docs["doc_id"], docs["text"])
    expected: dict[str, list] = {}

    def want(q: str):
        if q not in expected:
            node = parse_query(q)
            expected[q] = (oracle.search(node, K)
                           if checks.oracle_evaluable(node)
                           else ix.local_search(node, K))
        return expected[q]

    for q, got in singles:
        cause = checks.ranked_mismatch(got, want(q))
        if cause:
            ctx.fail(f"search {q!r}: {cause}")
    for batch, rows in batches:
        if rows is None:
            continue
        by_q: dict[str, list] = {key: [] for key in batch}
        for r in sorted(rows, key=lambda r: (r["query"], r["rank"])):
            by_q[r["query"]].append((r["doc_id"], r["score"]))
        for key, q in batch.items():
            cause = checks.ranked_mismatch(by_q[key], want(q))
            if cause:
                ctx.fail(f"search_many {q!r}: {cause}")
    ctx.info["oracle_checked_shapes"] = sorted(
        {type(parse_query(q)).__name__ for q in expected
         if checks.oracle_evaluable(parse_query(q))})

    if ctx.traced:
        search_layers(ctx, ix, docs, [q for q, _ in singles])


def request_layers(ctx: Ctx, counts) -> None:
    """Per-layer numbers of the timed ``search`` requests, read before
    any check calls into the index."""
    tr, L = ctx.tracer, ctx.layers
    L["plans.parse_us"] = tr.median("plans.parse", 1e6)
    L["search.plan_ms"] = tr.median("search.plan", 1e3)
    L["search.prune_ms"] = tr.median("search.prune", 1e3)
    L["search.fuzzy_expand_ms"] = tr.median("search.fuzzy_expand", 1e3)
    L["search.wildcard_expand_ms"] = tr.median("search.wildcard_expand", 1e3)
    L["spark.action_ms"] = tr.median("spark.action", 1e3)
    L["spark.many_action_ms"] = tr.median("spark.many_action", 1e3)
    prune_layers(ctx, "search.prune")
    job_layers(ctx, "spark", counts)
    L["trace.request_coverage"] = tr.coverage("request")
    L["trace.p50_ms"] = ctx.metrics["p50_ms"][0]


def search_layers(ctx: Ctx, ix, docs, qs) -> None:
    """Postings read per request (from the term statistics, outside
    the timed loop), then the traced-only extras of pipeline.py."""
    from chearch_spark.plans.parser import parse_query
    from perfbench import pipeline

    posts, per_hit = [], []
    for q in qs:
        node = ix._prep(parse_query(q))
        stats = ix._cached_stats(node.terms())
        p = sum(v[0] for v in stats.values() if v)
        posts.append(p)
        per_hit.append(p / max(len(ix.local_search(node, K)), 1))
    ctx.layers["search.postings_per_request"] = median(posts)
    ctx.layers["search.postings_per_hit"] = median(per_hit)
    pipeline.floors(ctx)
    pipeline.features(ctx, ix, docs)
    pipeline.operators(ctx, docs)


# -- serve -----------------------------------------------------------------

SERVE_DOCS = 12_000
SERVE_STREAM = 5000  # requests; longer than any run, so tail terms are new
# LRU budget: the head's whole working set plus this share of the tail
# working set of the first BUDGET_REQUESTS requests, a prefix every run
# completes (runs complete 400-750 requests in 15 s).  Every run thus
# loads more tail than the budget leaves room for, and evicts.
TAIL_CACHE_SHARE = 0.5
BUDGET_REQUESTS = 100
# the reference wire format caps a program at 255 bytes: ~40 terms
WIRE_WARM_TERMS = 32


def _node(op: str, terms):
    from chearch_spark.plans.query import And, Or, Term

    if op == "term":
        return Term(terms[0])
    return (And if op == "and" else Or)(Term(terms[0]), Term(terms[1]))


def _fold(op, terms):
    node = _node("term", terms[:1])
    for t in terms[1:]:
        node = op(node, _node("term", (t,)))
    return node


def _query_string(op: str, terms) -> str:
    return {"term": "{}", "and": "{} {}", "or": "{} OR {}"}[op].format(*terms)


def _ask(port: int, wire: bytes, timeout: float = 30.0):
    from chearch_spark.plans import chasm_wire

    with socket.create_connection(("127.0.0.1", port), timeout=timeout) as s:
        s.sendall(wire)
        s.shutdown(socket.SHUT_WR)
        data = b""
        while True:
            chunk = s.recv(4096)
            if not chunk:
                break
            data += chunk
    return chasm_wire.decode_records(data)


def traced_server_class(tr):
    """ChearchTCPServer whose ``answer`` is timed, so the socket share
    of a round trip is (round trip - answer).  The one client names
    the request it is about to send in ``rid``."""
    from chearch_spark.serving import ChearchTCPServer

    class TracedServer(ChearchTCPServer):
        rid = None
        answer_s = 0.0

        def answer(self, wire):
            t0 = perf()
            with tr.span("serving.answer", self.rid):
                out = super().answer(wire)
            self.answer_s = perf() - t0
            return out

    return TracedServer


def _working_set(spark, path: str, reqs, head) -> tuple[int, int]:
    """Decoded bytes the driver LRU holds, with an unbounded budget,
    once the head terms (what the warm-up loads) have been loaded, and
    what the local requests of ``reqs`` add on top: (head, tail).  The
    per-segment metadata counts once, in the head.  Terms load as OR
    queries of 256 terms, one pruned read each."""
    from chearch_spark.plans.query import Or
    from chearch_spark.search import Index

    ix = Index(spark, path, local_cache_bytes=1 << 60)

    def load(terms) -> int:
        terms = sorted(terms)
        for i in range(0, len(terms), 256):
            ix.local_search(_fold(Or, terms[i:i + 256]), K)
        return ix._local_cache.total

    local = {t for kind, _op, ts in reqs if kind == "local" for t in ts}
    head_ws = load(set(head))
    return head_ws, load(local | set(head)) - head_ws


def serve(ctx: Ctx) -> None:
    """Driver path, closed loop, one client in the calling thread: a
    seeded mix of ``Index.local_search`` calls and reference-wire
    requests to ``ChearchTCPServer(mode="local")``.  No Spark job runs
    in the loop.  Then the ingest phase on the same index."""
    from chearch_spark.plans import chasm_wire
    from chearch_spark.plans.query import And
    from chearch_spark.search import Index
    from chearch_spark.serving import ChearchTCPServer

    spark, tr = ctx.spark, ctx.tracer
    z = corpora.zipf_documents(ctx.seed, SERVE_DOCS + INGEST_DOCS)
    built = {k: v[:SERVE_DOCS] for k, v in z.items()}
    dpath = write_parquet(built, os.path.join(ctx.work, "zipf.parquet"))
    corpus_df = spark.read.parquet(dpath)
    text_bytes = sum(len(t.encode()) for t in built["text"])
    df = corpora.doc_freqs(built["text"])
    reqs = corpora.serve_requests(ctx.seed, df, SERVE_STREAM)
    head = corpora.head_terms(df)
    hot = set(head)
    segs = 2 * cores()
    wrap_modules(ctx)
    server_cls = traced_server_class(tr) if ctx.traced else ChearchTCPServer

    path = os.path.join(ctx.work, "ix")
    state: dict = {}

    class Served:
        def __init__(self, ix, srv):
            self.ix, self.srv = ix, srv

        def close(self):
            self.srv.stop()

    def build_once():
        build_s = build(ctx, corpus_df, path, segs)[1]
        # input characterisation, not set-up: outside the timed set-up
        ctx.log("working set")
        state["ws"] = _working_set(spark, path, reqs[:BUDGET_REQUESTS],
                                   head)
        return build_s

    def open_once(r):
        head_ws, tail_ws = state["ws"]
        ix = Index(spark, path, local_cache_bytes=int(
            head_ws + TAIL_CACHE_SHARE * tail_ws))
        srv = server_cls(ix, mode="local")
        srv.start()
        ix.local_search(" OR ".join(head), K)
        # loads the head into the server's parity cache; AND replays
        # far fewer occurrences than OR
        for j in range(0, len(head), WIRE_WARM_TERMS):
            _ask(srv.port, chasm_wire.ast_to_wire(
                _fold(And, head[j:j + WIRE_WARM_TERMS]), srv.term_ids.id_of))
        return Served(ix, srv)

    served, build_s = timed_setup(ctx, build_once, open_once)
    ctx.log("serve loop")
    ix, srv = served.ix, served.srv
    nbytes = build_layers(ctx, build_s, path, text_bytes)
    ctx.info["build_docs_per_s"] = round(SERVE_DOCS / build_s, 2)
    dfs = np.array(sorted(df.values()))
    ctx.info["corpus"] = {
        "docs": SERVE_DOCS, "text_bytes": text_bytes, "vocabulary": len(df),
        "df_quantiles": {q: int(np.percentile(dfs, q))
                         for q in (50, 90, 99, 99.9, 100)},
        "segments": len(ix._all_seg_ids()),
        "head_working_set_bytes": state["ws"][0],
        "tail_working_set_bytes": state["ws"][1],
        "lru_budget_bytes": ix.local_cache_bytes,
    }
    wrap_index(ctx, ix)
    wires = {
        i: chasm_wire.ast_to_wire(_node(op, t), srv.term_ids.id_of)
        for i, (kind, op, t) in enumerate(reqs) if kind == "wire"
    }

    lat: list[float] = []
    sock_us: list[float] = []
    local_us: list[float] = []
    answers: list = []
    kinds: list[str] = []
    i = 0
    t_start = perf()
    deadline = t_start + ctx.seconds
    while perf() < deadline:
        kind, op, terms = reqs[i % len(reqs)]
        rid = f"r{i}"
        ctx.attempted += 1
        t0 = perf()
        try:
            with tr.span("request", rid):
                if kind == "local":
                    with tr.span("search.local"):
                        ans = ix.local_search(_query_string(op, terms), K)
                else:
                    if ctx.traced:
                        srv.rid = rid
                    with tr.span("serving.round_trip"):
                        ans = _ask(srv.port, wires[i % len(reqs)])
        except Exception as e:  # noqa: BLE001 - counted, reported
            ctx.fail(f"{kind} {op} {terms}: {type(e).__name__}: {e}")
            i += 1
            continue
        dt = perf() - t0
        lat.append(dt)
        kinds.append(f"{kind} {'head' if terms[0] in hot else 'tail'}")
        answers.append((i, ans))
        if ctx.traced and kind == "local":
            local_us.append(dt * 1e6)
        elif ctx.traced:
            sock_us.append((dt - srv.answer_s) * 1e6)
        i += 1
    elapsed = perf() - t_start
    latency_metrics(ctx, lat)
    ctx.metrics["throughput_per_s"] = (len(lat) / elapsed, "1/s")
    ctx.metrics["driver_rss_mb"] = (peak_rss_mb(), "MB")
    # the tail must not fit: every head term (the warm-up) and every
    # term the run queried locally was loaded, so one no longer cached
    # was evicted
    loaded = set(head) | {t for kind, _op, ts in reqs[:i]
                          if kind == "local" for t in ts}
    evicted = sum(("p", t) not in ix._local_cache for t in loaded)
    if not evicted:
        ctx.log("WARNING: the LRU budget never bound; nothing was evicted")
    ctx.info["requests"] = {
        "completed": len(lat), "clients": 1,
        "wire_share": round(len(wires) / len(reqs), 3),
        "lru_evicted_terms": evicted,
        "p50_ms_by_kind": {k: round(pct([x for x, kk in zip(lat, kinds)
                                         if kk == k], 50) * 1e3, 3)
                           for k in sorted(set(kinds))}}
    if ctx.traced:
        L = ctx.layers
        L["serving.p99_ms"] = pct(lat, 99) * 1e3
        L["search.local_us"] = median(local_us)
        L["search.local_prune_us"] = ctx.tracer.median(
            "search.local_prune", 1e6)
        L["serving.answer_us"] = ctx.tracer.median("serving.answer", 1e6)
        L["serving.socket_us"] = median(sock_us)
        L["plans.parse_us"] = ctx.tracer.median("plans.parse", 1e6)
        L["plans.wire_decode_us"] = ctx.tracer.median("plans.wire_decode", 1e6)
        c = ctx.tracer.counters
        hits, misses = c.get("lru.hits", 0.0), c.get("lru.misses", 0.0)
        L["search.lru_hit_rate"] = hits / max(hits + misses, 1.0)
        L["search.lru_refetches"] = c.get("lru.refetches", 0.0)
        L["search.lru_evicted_terms"] = evicted
        L["search.lru_bytes"] = ix._local_cache.total
        L["search.parity_cache_terms"] = len(getattr(ix, "_parity_cache", {}))
        prune_layers(ctx, "search.local_prune")
        L["trace.request_coverage"] = ctx.tracer.coverage("request")
        L["trace.p50_ms"] = pct(lat, 50) * 1e3
    served.close()

    # -- checks ----------------------------------------------------------
    ctx.log("checks")
    used = {t for i, _ in answers for t in reqs[i % len(reqs)][2]}
    oracle = checks.bm25_oracle(built["doc_id"], built["text"], used)
    seg_or = checks.segment_oracles(
        path, dict(zip(built["doc_id"], built["text"])), used)
    expected: dict = {}
    for i, ans in answers:
        kind, op, terms = reqs[i % len(reqs)]
        key = (kind, op, terms)
        if key not in expected:
            node = _node(op, terms)
            expected[key] = (
                oracle.search(node, K) if kind == "local" else
                checks.wire_expected(seg_or, node, srv.term_ids.id_of,
                                     chasm_wire.MAX_RECORDS))
        if kind == "local":
            cause = checks.ranked_mismatch(ans, expected[key])
        else:
            cause = (None if list(ans) == expected[key] else
                     f"records {list(ans)[:3]} != expected "
                     f"{expected[key][:3]}")
        if cause:
            ctx.fail(f"{kind} {op} {terms}: {cause}")

    ctx.log("ingest phase")
    w = ingest_phase(ctx, ix, path, z, SERVE_DOCS, df)
    ctx.metrics["write_bytes_per_text_byte"] = (
        (nbytes + w["written"]) / (text_bytes + w["text"]), "B/B")


# -- ingest phase (run by serve after its read loop) ----------------------

INGEST_DOCS = 1600  # new documents available to the micro-batches
BATCH_DOCS = 400
DELETES_PER_BATCH = 20
FRESH_QUERIES = 20
MIN_COMPACTIONS = 1


def ingest_phase(ctx: Ctx, ix, path: str, z: dict, n_built: int,
                 df: dict) -> dict:
    """Write beside read on the served index: micro-batches of
    ingest_batch -> finalize -> delete -> maybe_compact -> refresh ->
    fresh ``local_search`` queries, until compaction has fired
    ``MIN_COMPACTIONS`` times.  After each refresh the long-lived
    handle's answers are checked against a freshly opened Index.
    Returns the bytes written to the index and the text they carry."""
    from chearch_spark.search import Index
    from chearch_spark.streaming.compact import maybe_compact
    from chearch_spark.streaming.ingest import finalize_index, ingest_batch

    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng([ctx.seed, 7])
    new = {k: v[n_built:] for k, v in z.items()}
    new["batch"] = [i // BATCH_DOCS for i in range(len(new["doc_id"]))]
    new_df = spark.read.parquet(
        write_parquet(new, os.path.join(ctx.work, "batches.parquet")))
    n_batches = new["batch"][-1] + 1
    live = list(range(n_built))
    write_s, written, ingested, ingested_text = 0.0, 0, 0, 0
    step_s: dict[str, list] = {}
    lat, first, warm = [], [], []
    compactions, rewritten, refresh_s = 0, 0, []
    if ctx.traced:
        wrap_lru(ctx, ix)

    def step(name: str, fn):
        t0 = perf()
        with tr.span(name):
            out = fn()
        step_s.setdefault(name, []).append(perf() - t0)
        return out

    b = 0
    while b < n_batches and compactions < MIN_COMPACTIONS:
        ctx.log(f"ingest batch {b}")
        rows = [i for i, x in enumerate(new["batch"]) if x == b]
        texts = [new["text"][i] for i in rows]
        dels = [int(x) for x in rng.choice(live, DELETES_PER_BATCH,
                                           replace=False)]
        snap = dir_snapshot(path)
        ctx.attempted += 1
        t0 = perf()
        try:
            with tr.span("request.write", f"b{b}"):
                step("streaming.ingest_batch", lambda: ingest_batch(
                    new_df.filter(f"batch = {b}").select("doc_id", "text"),
                    path, batch_id=b, num_segments=3))
                step("streaming.finalize", lambda: finalize_index(spark, path))
                step("tombstones.delete", lambda: ix.delete(dels))
                snap_c = dir_snapshot(path)
                res = step("streaming.compact", lambda: maybe_compact(
                    spark, path, max_segments=2, num_segments=1))
        except Exception as e:  # noqa: BLE001 - counted, reported
            ctx.fail(f"write batch {b}: {type(e).__name__}: {e}")
            break
        write_s += perf() - t0
        after = dir_snapshot(path)
        written += written_between(snap, after)
        if res.get("compacted"):
            compactions += 1
            rewritten += written_between(snap_c, after)
        ingested += len(rows)
        ingested_text += sum(len(t.encode()) for t in texts)
        live = sorted((set(live) | {new["doc_id"][i] for i in rows})
                      - set(dels))
        t0 = perf()
        ix.refresh()
        refresh_s.append(perf() - t0)
        if ctx.traced:
            wrap_lru(ctx, ix)
        qs = corpora.fresh_queries(ctx.seed + 1000 * b, texts, df,
                                   FRESH_QUERIES)
        got = []
        for j, q in enumerate(qs):
            ctx.attempted += 1
            t0 = perf()
            try:
                with tr.span("request.fresh", f"b{b}q{j}"):
                    ans = ix.local_search(q, K)
            except Exception as e:  # noqa: BLE001
                ctx.fail(f"fresh query {q!r}: {type(e).__name__}: {e}")
                continue
            dt = perf() - t0
            lat.append(dt)
            (first if j == 0 else warm).append(dt)
            got.append((q, ans))
        # the same state opened afresh must answer identically
        fresh = Index(spark, path)
        for q, ans in got:
            cause = checks.ranked_mismatch(ans, fresh.local_search(q, K))
            if cause:
                ctx.fail(f"after refresh, batch {b}, {q!r}: {cause}")
        b += 1
    if compactions < MIN_COMPACTIONS:
        ctx.fail(f"compaction fired {compactions} < {MIN_COMPACTIONS} times "
                 f"in {b} batches")

    # the Spark path on the long-lived handle against a fresh one
    q = f"{corpora.zipf_word(20)} OR {corpora.zipf_word(40)}"
    ctx.attempted += 1
    got = [(r["doc_id"], r["score"]) for r in ix.search(q, k=K).collect()]
    want = [(r["doc_id"], r["score"])
            for r in Index(spark, path).search(q, k=K).collect()]
    cause = checks.ranked_mismatch(got, want)
    if cause:
        ctx.fail(f"Spark path after refresh {q!r}: {cause}")

    ctx.info["ingest"] = {"batches": b, "batch_docs": BATCH_DOCS,
                          "compactions": compactions,
                          "segments": len(ix._all_seg_ids())}
    state = {"written": written, "text": ingested_text}
    if ctx.traced:
        L, T = ctx.layers, ctx.tracer
        L["ingest_docs_per_s"] = ingested / max(write_s, 1e-9)
        L["fresh_query_p50_ms"] = pct(lat, 50) * 1e3
        for name in ("streaming.ingest_batch", "streaming.finalize",
                     "streaming.compact"):
            L[name + "_s"] = median(step_s.get(name, []))
        L["streaming.compactions"] = compactions
        L["streaming.bytes_rewritten"] = rewritten
        L["streaming.live_segments"] = len(ix._all_seg_ids())
        L["tombstones.delete_ms"] = median(
            step_s.get("tombstones.delete", [])) * 1e3
        L["tombstones.gc_s"] = T.median("tombstones.gc")
        L["search.refresh_ms"] = median(refresh_s) * 1e3
        L["search.first_query_ms"] = median(first) * 1e3
        L["search.warm_query_ms"] = median(warm) * 1e3
    return state


WORKLOADS = {"search": search, "serve": serve}
