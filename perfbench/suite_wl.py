"""Query-suite workload: registered queries over seeded synthetic tables.

One pass runs every query of ``SUITE`` once, in a permutation of the sorted
names drawn from the seed, with ``release_all_cached`` between queries. A
query's time covers building its DataFrame and materializing the result on
the driver (``toPandas``). Set-up runs one untimed pass: a query's first run
in a process costs two to ten times its later ones (JIT, code generation,
Python worker start-up), and that cost is set-up, not the query. Then come
as many timed passes as fill ``seconds`` at ``PASS_S`` each, at least
``min_passes`` (at 20 s the minimum of three sets the count, and the passes
take about 28 s); the count is fixed from ``seconds`` rather
than from the clock, so every run with the same ``seconds`` times the same
passes. The operation time is the sum over the queries of each query's median time
across the timed passes, so a stall that hits one pass moves no query's
median. Outside the timed region each result of the last pass is compared
with the query's DuckDB oracle; queries without one count only exceptions.

``SUITE`` is the part of the registry that reaches the layers the
maintained-view workload does not call: one query per layer, and one per
query family.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import datagen
import harness

# query -> the layer it is in the suite for
SUITE = {
    "ann_topk": "functions.similarity",
    "cep_funnel": "operators.cep",
    "dd_count_skew_blocked": "operators.skew",
    "dd_iterate_reachability": "operators.iterate",
    "dd_reduce_min": "operators.reduce",
    "dd_trace_lookup": "operators.arrange",
    "dd_upsert_latest": "operators.upsert",
    "dedup_exact": "functions.dedup",
    "graph_degree_distribution": "algorithms.graphs",
    "graph_delta_triangles": "streaming.delta_query",
    "graph_wco_triangles": "operators.wco",
    "multimodal_features": "functions.multimodal",
    "text_token_stats": "functions.text",
    "tpch_q1": "queries (tpch)",
    "window_tumbling_count": "streaming.windows",
}

FAMILIES = ("dd", "tpch", "graph", "dedup", "text", "ann", "window", "cep", "multimodal")


def family(name: str) -> str:
    prefix = name.split("_", 1)[0]
    return "multimodal" if prefix == "embedding" else prefix


@dataclass(frozen=True)
class Shape:
    sf: float
    min_passes: int


# Seconds one timed pass takes on a 4-vCPU host.
PASS_S = 9.5

SHAPE = Shape(0.001, 3)
TOY = Shape(0.001, 1)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values normalized, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    for c in g.columns:
        a, b = g[c], w[c]
        if np.issubdtype(a.dtype, np.number) and np.issubdtype(b.dtype, np.number):
            if not np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-6, equal_nan=True):
                return False
        elif not a.astype(str).equals(b.astype(str)):
            return False
    return True


def run(spark, shape: Shape, seed: int, seconds: float, work: str, tracer) -> dict:
    from differential_dataflow_spark.queries import ORACLES, QUERIES
    from differential_dataflow_spark.session import release_all_cached

    order = [sorted(SUITE)[i] for i in np.random.default_rng(seed).permutation(len(SUITE))]
    results: dict[str, pd.DataFrame] = {}
    errors: dict[str, str] = {}

    def one_pass(times: dict[str, list[float]] | None) -> None:
        for name in order:
            release_all_cached(spark)
            t = time.perf_counter()
            try:
                with tracer.span("queries.query", query=name):
                    results[name] = QUERIES[name](spark, data).toPandas()
            except Exception as e:  # a failing query is counted, not fatal
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                continue
            if times is not None:
                times[name].append(time.perf_counter() - t)

    t0 = time.perf_counter()
    data = os.path.join(work, "tables")
    datagen.write_tables(data, shape.sf, seed)
    one_pass(None)
    setup_s = time.perf_counter() - t0
    warm_errors = len(errors)
    errors.clear()

    times: dict[str, list[float]] = {q: [] for q in order}
    passes = max(shape.min_passes, round(seconds / PASS_S))
    tracer.start_window()
    for _ in range(passes):
        one_pass(times)
    tracer.end_window()
    release_all_cached(spark)

    con = harness.duckdb_connect(work)
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    mismatches = sorted(
        q for q, got in results.items() if q in ORACLES and not same(got, con.sql(ORACLES[q]).df())
    )
    con.close()
    failed = warm_errors + len(mismatches) * passes + sum(passes - len(times[q]) for q in order)
    query_s = {q: float(np.median(v)) if v else 0.0 for q, v in times.items()}
    return {
        "setup_s": setup_s,
        "op_ms": [sum(query_s.values()) * 1000.0],
        "items": len(order),
        "items_s": sum(query_s.values()),
        "attempted": len(order) * (passes + 1),
        "failed": failed,
        "mismatches": mismatches + sorted(errors.items()),
        "query_s": query_s,
        "passes": passes,
    }
