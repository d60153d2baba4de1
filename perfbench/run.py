"""Benchmark of differential_dataflow_spark, driven through its public API.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

- ``maintain``: four maintained views fed a few edge changes (graph), then
  cycles of one batch of 100k turn updates (bulk) and tiny micro-batches
  (trickle);
- ``suite``: registered queries checked against their DuckDB oracles.

Each run is one process with one ``local[nproc]`` SparkSession and a closed
loop: each operation starts when the previous one ends. ``--seconds`` sets
how many maintain cycles and suite passes are timed, from what one takes on
a 4-vCPU host, so runs with the same ``--seconds`` do the same work (each
workload sets a minimum count; see its module). Outputs are checked against
an independent reference after the timed region.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it,
prefixed ``# host``, records the host and the run settings. ``--size toy``
shrinks every input to a smoke-test size.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("maintain", "suite")

# One operation: a trickle round; a suite pass, as the sum of each query's
# median time. Throughput items: input updates per second of round time over
# the bulk-and-trickle cycles; queries per second of that suite pass.
END_TO_END_UNITS = {"setup_s": "s", "op_ms_p50": "ms", "throughput": "1/s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    return p.parse_args(argv)


def workload(name: str, size: str):
    """The workload's module and its shape at ``size``."""
    if name == "maintain":
        import maintain_wl as mod
    else:
        import suite_wl as mod
    return mod, mod.TOY if size == "toy" else mod.SHAPE


def end_to_end(res: dict, setup_s: float) -> dict:
    values = {
        "setup_s": setup_s,
        "op_ms_p50": statistics.median(res["op_ms"]),
        "throughput": res["items"] / res["items_s"],
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, harness.REPO)
    try:
        import differential_dataflow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}", file=sys.stderr)
        return 2
    import layers

    host = harness.Host.detect()
    mod, shape = workload(args.workload, args.size)
    work = harness.make_work_dir(args.workload)
    session = None
    try:
        session = harness.Session(host, work, f"perfbench-{args.workload}")
        spark = session.spark
        session_s = time.perf_counter() - T_PROCESS
        tracer = layers.make_tracer(spark, args.trace)
        tracer.install()
        t_run = time.perf_counter()
        res = mod.run(spark, shape, args.seed, args.seconds, work, tracer)
        tracer.uninstall()
        run_s = time.perf_counter() - t_run
        setup_s = session_s + res["setup_s"]
        if args.trace:
            metrics = layers.per_layer(tracer, session, res)
            tracer.write(harness.spans_path(args.workload, args.seed))
        else:
            metrics = end_to_end(res, setup_s)
        info = {
            **host.describe(),
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "session_s": session_s,
            "workload_setup_s": res["setup_s"],
            "workload_run_s": run_s,
            "ops": len(res["op_ms"]),
            "attempted": res["attempted"],
            "failed": res["failed"],
            "mismatches": res["mismatches"],
            "round_ms": res.get("round_ms"),
        }
    finally:
        if session is not None:
            session.close()
        harness.remove_work_dir(work)
    print("# host " + json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
