"""Registered LLM-pipeline operators, measured in the traced `backfill`
run (see README: why they are not a timed workload of their own).

Seeded `documents`, `embeddings` and `events` tables in the fixtures'
schemas are written under the run directory. Each operator is built by
its `QUERIES[name]` call and collected once, after the workload's own
drains and passes have warmed the JVM. Every result is compared, order-
insensitively, with DuckDB running the operator's registered oracle
over the same tables. Spark's cache is cleared after every call, since
some operators persist intermediates they never release.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import verify

OPS = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "similarity_lsh", "multimodal_meta", "sketch_hll")
VOCAB = (
    "spark line column order small sort fast value scan hash slow group batch agg filter query "
    "big key window row part table stream merge data join vector customer the index load "
    "shard node page cache block commit flush parse token"
).split()


def write_tables(seed: int, out: str) -> None:
    """documents (with near-duplicate variants), 64-dim embeddings
    around cluster centres, and events."""
    rng = random.Random(seed * 31 + 7)
    docs = []
    for _ in range(360):
        docs.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randrange(20, 90))))
    for _ in range(40):  # near-duplicates: Jaccard well above 0.7
        base = rng.choice(docs[:360]).split()
        if rng.random() < 0.5:
            base = base + [rng.choice(VOCAB)]
        else:
            base = base[:-1] + [rng.choice(VOCAB)]
        docs.append(" ".join(base))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": docs,
        "lang": [rng.choice(("en", "en", "zh", "de")) for _ in docs],
        "source": [f"src{rng.randrange(20)}" for _ in docs],
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    nrng = np.random.default_rng(seed)
    centres = nrng.standard_normal((30, 64)) * 0.15
    labels = nrng.integers(0, 30, 300)
    vecs = (centres[labels] + nrng.standard_normal((300, 64)) * 0.05).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(300), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))

    n_ev = 8000
    start = dt.datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([start + dt.timedelta(seconds=30 * i + rng.randrange(30)) for i in range(n_ev)],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(600) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(("click", "view", "signup", "purchase", "error")) for _ in range(n_ev)],
        "value": [round(rng.uniform(0, 200), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)],
    }), os.path.join(out, "events.parquet"))


def oracle_answers(tables: str, oracles: dict[str, str]) -> dict[str, list]:
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables, t + '.parquet')}')")
    out = {}
    for name in OPS:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        out[name] = verify.normalize_result(cols, res.fetchall())
    return out


def measure(ctx) -> tuple[list[str], int]:
    """Per-layer figures of the `queries` + `functions` layers (traced
    run only). Returns (problems, operations attempted)."""
    from log2ck_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    spark, probe, proc, L = ctx.spark, ctx.probe, ctx.proc, ctx.layer
    tables = ctx.run.sub("tables")
    write_tables(ctx.seed, tables)
    want = oracle_answers(tables, ORACLES)
    problems: list[str] = []
    for name in OPS:
        with ctx.tracer.span(f"op.{name}"):
            j0 = probe.max_job_id()
            w0 = proc.sample()["workers"]
            t0 = time.perf_counter()
            df = QUERIES[name](spark, tables)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
            jobs = probe.jobs_between(j0, probe.max_job_id())
            w1 = proc.sample()["workers"]
            L[f"op.{name}.cached_left"] = probe.persisted_rdds()
            spark.catalog.clearCache()
        problems += verify.compare_operator(name, verify.normalize_result(df.columns, rows), want[name])
        L[f"op.{name}.construct_s"] = t1 - t0
        L[f"op.{name}.plan_s"] = t2 - t1
        L[f"op.{name}.exec_s"] = t3 - t2
        L[f"op.{name}.jobs"] = jobs["jobs"]
        L[f"op.{name}.stages"] = jobs["stages"]
        L[f"op.{name}.tasks"] = jobs["tasks"]
        L[f"op.{name}.shuffle_bytes"] = jobs["shuffle_bytes"]
        L[f"op.{name}.pyworker_cpu_s"] = w1 - w0
    return problems, len(OPS)
