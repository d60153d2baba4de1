"""Per-layer metrics of a traced run, named after the package's modules.

Every metric is emitted on every workload; a layer the workload does not
call reads 0. Times are medians over the timed region unless a name says
otherwise; ``spark.*`` and ``session.checkpoint_*`` cover the whole timed
region. Counts (``*.jobs*``, ``*.out_rows``, ``iterate.rounds``,
``*_calls``) are exact for a fixed seed and run length.
"""

from __future__ import annotations

import statistics

import suite_wl
from tracing import NullTracer, Tracer

# metric prefix (also the name of the round span the workload opens for the
# view) -> the view's key in the workload's per-round output rows
VIEWS = {"maintain.count": "count", "join.delta": "join", "fixpoint.reach": "reach", "maintain.bfs": "bfs"}
KEYED = ("maintain.count", "join.delta")  # the views bulk and trickle rounds feed
# the kind of round that feeds the view tiny deltas
TINY_PHASE = {view: "trickle" if view in KEYED else "graph" for view in VIEWS}

UNITS: dict[str, str] = {
    "session.noop_job_ms": "ms",
    "session.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.floor_share": "fraction",
    "session.checkpoint_calls": "count",
    "session.checkpoint_s": "s",
    "session.checkpoint_rows": "rows",
    "iterate.semi_naive_s": "s",
    "iterate.rounds": "count",
    **{
        f"{view}.{m}": unit
        for view in VIEWS
        for m, unit in (
            ("ms_p50", "ms"),
            ("jobs_per_round", "count"),
            ("out_rows", "rows"),
            ("seed_s", "s"),
        )
    },
    **{f"{view}.bulk_ms_p50": "ms" for view in KEYED},
    "maintain.compact_calls": "count",
    "maintain.compact_s": "s",
    **{f"queries.{q}.s": "s" for q in sorted(suite_wl.SUITE)},
    **{f"queries.{f}.jobs": "count" for f in suite_wl.FAMILIES},
    "trace.op_ms_p50": "ms",
    "trace.overhead_share": "fraction",
}


def make_tracer(spark, trace: int):
    return Tracer(spark) if trace else NullTracer()


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(tracer: Tracer, session, res: dict) -> dict:
    lo, hi = tracer.window
    wall = hi - lo
    jobs, stages, tasks = tracer.counters_window
    noop_ms = session.noop_job_ms()
    v: dict[str, float] = {
        "session.noop_job_ms": noop_ms,
        "session.peak_rss_mb": session.peak_rss_mb(),
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.failed_tasks": tracer.failed_tasks(*tracer.stage_range),
        "spark.floor_share": jobs * noop_ms / 1000.0 / wall,
    }
    ck = tracer.in_window("session.checkpoint")
    v["session.checkpoint_calls"] = len(ck)
    v["session.checkpoint_s"] = sum(s.seconds for s in ck)
    v["session.checkpoint_rows"] = sum(s.attrs.get("rows", 0) for s in ck)

    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    sn = tracer.in_window("iterate.semi_naive")
    v["iterate.semi_naive_s"] = _med(s.seconds for s in sn)
    v["iterate.rounds"] = _med(
        sum(1 for c in children.get(index[id(s)], []) if "rows" in c.attrs) for s in sn
    )

    for prefix, key in VIEWS.items():
        # Rounds of tiny deltas, unless a name says bulk.
        tiny = TINY_PHASE[prefix]
        rounds = tracer.in_window(prefix + ".round")
        small = [s for s in rounds if s.attrs["phase"] == tiny]
        v[f"{prefix}.ms_p50"] = _med(s.seconds * 1000.0 for s in small)
        if prefix in KEYED:
            bulk = [s for s in rounds if s.attrs["phase"] == "bulk"]
            v[f"{prefix}.bulk_ms_p50"] = _med(s.seconds * 1000.0 for s in bulk)
        v[f"{prefix}.jobs_per_round"] = _med(s.jobs for s in small)
        v[f"{prefix}.out_rows"] = _med(
            r[key] for phase, r in res.get("out_rows", []) if phase == tiny and key in r
        )
        v[f"{prefix}.seed_s"] = res.get("seed_s", {}).get(key, 0.0)

    compacts = tracer.in_window("maintain.compact")
    v["maintain.compact_calls"] = len(compacts)
    v["maintain.compact_s"] = sum(s.seconds for s in compacts)

    query_s = res.get("query_s", {})
    for q in suite_wl.SUITE:
        v[f"queries.{q}.s"] = query_s.get(q, 0.0)
    family_jobs = {f: 0 for f in suite_wl.FAMILIES}
    queries = tracer.in_window("queries.query")
    for s in queries:
        family_jobs[suite_wl.family(s.attrs["query"])] += s.jobs
    passes = max(1, res.get("passes", 1))
    for f, n in family_jobs.items():
        v[f"queries.{f}.jobs"] = n / passes

    v["trace.op_ms_p50"] = _med(res["op_ms"])
    n_spans = sum(1 for s in tracer.spans if lo <= s.start <= hi)
    v["trace.overhead_share"] = n_spans * tracer.span_cost_s(200) / wall
    return {k: {"value": v[k], "unit": UNITS[k]} for k in UNITS}
