"""Traced-run extras on the sf0.1-shaped tables: Spark job-floor
calibrations, the search features, and the pipeline operators of
``operators/`` and ``functions/``, each checked against its DuckDB
mirror where one exists.

These run only in the traced ``search`` run: one pass of the operators
costs about 40 s in a fresh session, more than the whole end-to-end
run, so they report per-layer numbers and carry no end-to-end bound.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import checks, corpora
from perfbench.session import spark_cores
from perfbench.trace import JobCounter

perf = time.perf_counter
K = 10
FLOOR_REPS = 7
QUERY_IDS = [0, 1, 2, 3, 4]
EMBEDDINGS = 2000  # the sf0.1 embeddings table's size


def _udf_start(batches):
    import pyarrow as pa

    t = time.time()
    n = sum(b.num_rows for b in batches)
    yield pa.RecordBatch.from_pylist(
        [{"n": n, "t0": t, "t1": time.time()}])


def floors(ctx) -> None:
    """Trivial jobs: a JVM-only one, and a ``mapInArrow`` one whose
    Python body records when it starts, which splits the Python-UDF
    job floor into submission -> first UDF start, UDF body, and last
    UDF end -> result on the driver."""
    spark, L = ctx.spark, ctx.layers
    n = spark_cores()
    jvm, udf, to_udf, body, back = [], [], [], [], []
    for _ in range(FLOOR_REPS):
        t0 = perf()
        spark.range(0, n, 1, n).selectExpr("id * 2 AS x").collect()
        jvm.append(perf() - t0)
        w0 = time.time()
        t0 = perf()
        rows = (spark.range(0, n, 1, n)
                .mapInArrow(_udf_start, "n long, t0 double, t1 double")
                .collect())
        udf.append(perf() - t0)
        w1 = time.time()
        to_udf.append(min(r["t0"] for r in rows) - w0)
        body.append(max(r["t1"] - r["t0"] for r in rows))
        back.append(w1 - max(r["t1"] for r in rows))
    L["spark.jvm_job_floor_ms"] = statistics.median(jvm) * 1e3
    L["spark.udf_job_floor_ms"] = statistics.median(udf) * 1e3
    L["spark.udf_floor.submit_to_udf_ms"] = statistics.median(to_udf) * 1e3
    L["spark.udf_floor.udf_body_ms"] = statistics.median(body) * 1e3
    L["spark.udf_floor.udf_to_driver_ms"] = statistics.median(back) * 1e3


def _tables(ctx, docs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = corpora.sf_embeddings(ctx.seed, EMBEDDINGS)
    epath = os.path.join(ctx.work, "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(emb["vec_id"], pa.int64()),
        "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
        "label": pa.array(emb["label"], pa.int32()),
    }), epath)
    dpath = os.path.join(ctx.work, "documents.parquet")
    return (ctx.spark.read.parquet(dpath), ctx.spark.read.parquet(epath),
            dpath, epath)


def features(ctx, ix, docs) -> None:
    """One warm-up and one timed pass of the four search features."""
    from chearch_spark.operators.fusion import hybrid_rrf

    docs_df, emb_df, _d, _e = _tables(ctx, docs)
    ops = {
        "search.hybrid_rrf_s": lambda: hybrid_rrf(ix, emb_df, {
            "h_and": ("merge sort", 0), "h_or": ("merge OR dup", 1),
            "h_single": ("sort", 2)}, k=K),
        "search.mlt_s": lambda: ix.more_like_this(7, docs_df, k=K),
        "search.sig_terms_s": lambda: ix.significant_terms(
            "merge OR dup", docs_df, k=K),
        "search.filtered_s": lambda: ix.search_filtered(
            "merge OR dup", docs_df, "n_chars >= 400", k=K),
    }
    total = 0.0
    for name, fn in ops.items():
        fn().collect()
        ctx.attempted += 1
        t0 = perf()
        try:
            with ctx.tracer.span(name.removesuffix("_s")):
                fn().collect()
        except Exception as e:  # noqa: BLE001 - counted, reported
            ctx.fail(f"{name}: {type(e).__name__}: {e}")
        dt = perf() - t0
        ctx.layers[name] = dt
        total += dt
    ctx.layers["features_s"] = total


def operators(ctx, docs) -> None:
    """One pass of each operator, the first in the session, so its
    time includes code generation, as a batch job's does."""
    import shutil

    import duckdb

    from chearch_spark.functions import text as T
    from chearch_spark.operators import ann as A
    from chearch_spark.operators import dedup as D
    from chearch_spark.operators.packing import pack_sequences
    from chearch_spark.operators.percolate import percolate

    spark, L = ctx.spark, ctx.layers
    docs_df, emb_df, dpath, epath = _tables(ctx, docs)
    corpus = docs_df.select("doc_id", "text")
    ivf_dir = os.path.join(ctx.work, "ivf")
    perc_q = {"a1": "merge sort", "a2": "dup", "a3": "batch -the",
              "a4": "batch (dup OR sort)", "a5": "join OR stream"}

    def ivf_build():
        shutil.rmtree(ivf_dir, ignore_errors=True)
        A.ivf_build(emb_df, ivf_dir, n_centroids=16, pq_m=A.PQ_M)

    # name -> (family, run -> DataFrame | None, DuckDB mirror SQL | None)
    ops = {
        "dedup.minhash": ("dedup", lambda: D.minhash_lsh_pairs(
            corpus, tau=0.5), D.minhash_lsh_pairs_sql(0.5)),
        "dedup.simhash": ("dedup", lambda: D.simhash_pairs(
            corpus, max_hamming=3), D.simhash_pairs_sql(3)),
        "dedup.exact": ("dedup", lambda: D.exact_duplicates(corpus),
                        D.exact_duplicates_sql()),
        "dedup.ngram_jaccard": ("dedup", lambda: D.ngram_jaccard_pairs(
            corpus, tau=0.5), D.ngram_jaccard_pairs_sql(0.5)),
        "dedup.decontaminate": ("dedup", lambda: D.decontaminate(
            docs_df, docs_df.filter("doc_id % 37 = 0"), n=5),
            D.decontaminate_sql(n=5)),
        "ann.cosine_topk": ("ann", lambda: A.cosine_topk(
            emb_df, QUERY_IDS, k=K), A.cosine_topk_sql(QUERY_IDS, K)),
        "ann.lsh": ("ann", lambda: A.lsh_ann_topk(
            emb_df, QUERY_IDS, k=K), A.lsh_ann_topk_sql(QUERY_IDS, K)),
        "ann.ivf_flat": ("ann", lambda: A.ivf_flat_topk(
            emb_df, QUERY_IDS, k=K), A.ivf_flat_topk_sql(QUERY_IDS, K)),
        "ann.ivf_build": ("ann", ivf_build, None),
        "ann.ivfadc_rerank": ("ann", lambda: A.ivf_query(
            spark, ivf_dir, QUERY_IDS, k=K, n_probe=8, adc=True,
            rerank=4 * K), None),
        "text.quality": ("text", lambda: T.quality_scores(corpus),
                         T.quality_scores_sql()),
        "text.snippets": ("text", lambda: T.snippets(
            corpus, ["merge", "sort"], width=3),
            T.snippets_sql(["merge", "sort"], width=3)),
        "packing.pack": ("text", lambda: pack_sequences(docs_df, 512),
                         None),
        "percolate": ("text", lambda: percolate(docs_df, perc_q), None),
    }
    from chearch_spark.operators.packing import pack_sequences_sql
    from chearch_spark.operators.percolate import percolate_sql

    mirrors = {name: sql for name, (_f, _r, sql) in ops.items()}
    mirrors["packing.pack"] = pack_sequences_sql(512)
    mirrors["percolate"] = percolate_sql(perc_q)

    jc = JobCounter(spark.sparkContext)
    jsc = spark.sparkContext._jsc
    family: dict[str, float] = {}
    rows_of: dict[str, list] = {}
    for name, (fam, run, _sql) in ops.items():
        ctx.attempted += 1
        t0 = perf()
        try:
            with jc.group(name) as c, ctx.tracer.span(name):
                df = run()
                rows = df.collect() if df is not None else []
        except Exception as e:  # noqa: BLE001 - counted, reported
            ctx.fail(f"{name}: {type(e).__name__}: {e}")
            continue
        dt = perf() - t0
        key = name + ("_s" if name != "percolate" else ".s")
        L[key] = dt
        L[f"{name}.rows"] = len(rows)
        L[f"spark.jobs.{name}"] = c["jobs"]
        L[f"spark.tasks.{name}"] = c["tasks"]
        L[f"spark.persisted_after.{name}"] = jsc.getPersistentRDDs().size()
        family[fam] = family.get(fam, 0.0) + dt
        rows_of[name] = rows
    L["dedup_s"] = family.get("dedup", 0.0)
    L["ann_s"] = family.get("ann", 0.0)
    L["text_ops_s"] = family.get("text", 0.0)

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{dpath}'")
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{epath}'")
        for name, rows in rows_of.items():
            sql = mirrors.get(name)
            if sql is None:
                continue
            try:
                want = con.sql(sql)
                cols = want.columns
                got = [tuple(r[c] for c in cols) for r in rows]
                cause = checks.rows_mismatch(got, want.fetchall())
            except Exception as e:  # noqa: BLE001 - counted, reported
                cause = f"{type(e).__name__}: {e}"
            if cause:
                ctx.fail(f"{name} vs DuckDB mirror: {cause}")
    finally:
        con.close()
