"""Maintained-view workload: pre-loaded state, then a stream of epochs.

Four views are kept up to date:

- ``count``: ``CountMaintainer``, turns per conversation;
- ``join``: in-memory ``DeltaJoin``, each user turn joined to the response
  that follows it;
- ``reach``: ``MaintainedFixpoint``, nodes reachable from the root
  conversations over a conversation-reference DAG;
- ``bfs``: ``IncrementalBFS``, hop distance from conversation 0 on the DAG.

Rounds come in three sizes:

- **graph**: a few edge inserts and deletes on the DAG for the graph views,
  applied first. With 100 edge changes a round took about 6 s and its time
  depended on which edges changed, so these rounds stay small and few.
- **bulk**: 100k turn updates for the keyed views. Tiny-delta shortcuts are
  bypassed; compaction and many-key lookups weigh.
- **trickle**: a few turn updates (appends of a new last turn, retractions
  of the current last turn) for the keyed views, bound by the per-job
  floor. The median trickle round is the workload's operation time.

After the graph rounds the keyed views get cycles of one bulk round and
``trickle_per_bulk`` trickle rounds, as many as fill ``seconds`` at
``CYCLE_S`` each (three at 20 s). The count is fixed from ``seconds`` rather
than from the clock, so every run with the same ``seconds``, on any host and
at any commit, measures the same rounds: a faster build does not get more,
and more warmed-up, rounds into its median. Input updates per second of round
time over these cycles is the workload's throughput; bulk updates are
nearly all of them. The keyed views compact every ``COMPACT_EVERY`` parts,
so compactions land in both kinds of round and not at the same place in
every cycle; taken over whole cycles, rather than over the bulk rounds
alone, the throughput counts the same compactions in every run of the same
length. Spreading the bulk rounds over the window, rather than running them
back to back, also lets their time average over the host's slow and fast
spells.

Set-up writes each round's delta as its own parquet file (a round reads only
its file), seeds the views and applies round 0, which
carries both kinds of update, then ``warm_rounds`` trickle rounds and one
bulk round, so every round plan is compiled for both batch sizes before the
timed region (a first bulk round took twice as long as later ones). A round
ends when every view it feeds has had its output delta collected to the
driver. After the timed region each view's final state is compared with a
from-scratch DuckDB recompute over the final inputs (the join through its
initial result plus every emitted delta).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import harness

ROLES = ("user", "assistant", "tool")
VIEWS = ("count", "join", "reach", "bfs")
COMPACT_EVERY = 3
# Seconds one bulk-and-trickle cycle takes on a 4-vCPU host.
CYCLE_S = 6.5


@dataclass(frozen=True)
class Shape:
    n_convs: int
    avg_turns: int
    n_nodes: int
    n_layers: int
    trickle_updates: int  # turn updates per trickle round
    warm_rounds: int  # trickle rounds in set-up, after round 0 (then one bulk)
    bulk_updates: int  # turn updates per bulk round
    trickle_per_bulk: int  # trickle rounds per cycle, after its bulk round
    edge_changes: int  # inserts + deletes per graph round
    graph_rounds: int
    min_cycles: int


SHAPE = Shape(20_000, 10, 900, 3, 4, 2, 100_000, 4, 4, 1, 2)
TOY = Shape(300, 4, 60, 3, 3, 1, 200, 2, 4, 1, 1)

# turns file, edges file (either may be None), input updates
Round = tuple["str | None", "str | None", int]


class Inputs:
    """Seeded initial state and per-round deltas, written as parquet."""

    def __init__(self, shape: Shape, seed: int, work: str, cycles: int):
        self.shape = shape
        self.dir = os.path.join(work, "inputs")
        os.makedirs(self.dir, exist_ok=True)
        rng = np.random.default_rng(seed)
        self.rng = rng
        n = shape.n_convs
        hot = np.arange(n) % 100 == 0
        self.lengths = np.where(
            hot, 30 * shape.avg_turns, rng.integers(1, 2 * shape.avg_turns + 1, n)
        ).astype(np.int64)
        self.conv_ids = np.array([f"c{i:07d}" for i in range(n)], dtype=object)
        conv = np.repeat(np.arange(n), self.lengths)
        starts = np.repeat(np.cumsum(self.lengths) - self.lengths, self.lengths)
        idx = np.arange(len(conv)) - starts
        self.turns_path = self._write(
            "turns",
            {
                "conv_id": self.conv_ids[conv],
                "turn_idx": idx.astype(np.int32),
                "role": np.array(ROLES, dtype=object)[idx % 3],
            },
        )
        # Layered DAG: every node outside layer 0 references two nodes of
        # the layer before it, so no path is longer than n_layers - 1.
        self.layer_size = shape.n_nodes // shape.n_layers
        edges = set()
        for v in range(self.layer_size, shape.n_nodes):
            lo = (v // self.layer_size - 1) * self.layer_size
            for u in rng.choice(self.layer_size, 2, replace=False):
                edges.add((lo + int(u), v))
        self.edges = edges
        self.roots = list(range(0, self.layer_size, 4))
        e = np.array(sorted(edges), dtype=np.int64)
        self.edges_path = self._write("edges", {"src": e[:, 0], "dst": e[:, 1]})
        # Set-up rounds, the graph rounds, then the cycles. Turn deltas are
        # written in the order the rounds apply them; only round 0 and the
        # graph rounds change edges.
        self.warm: list[Round] = [
            (self._turns("warm-00000", shape.trickle_updates),
             self._edges("warm-00000", shape.edge_changes),
             shape.trickle_updates + shape.edge_changes),
        ] + [
            self._turn_round(f"warm-{r:05d}", shape.trickle_updates)
            for r in range(1, shape.warm_rounds + 1)
        ] + [self._turn_round("warm-bulk", shape.bulk_updates)]
        self.graph: list[Round] = [
            (None, self._edges(f"graph-{r:05d}", shape.edge_changes), shape.edge_changes)
            for r in range(shape.graph_rounds)
        ]
        self.cycles: list[list[Round]] = [
            [self._turn_round(f"bulk-{c:05d}", shape.bulk_updates)]
            + [
                self._turn_round(f"trickle-{c:05d}-{r}", shape.trickle_updates)
                for r in range(shape.trickle_per_bulk)
            ]
            for c in range(cycles)
        ]

    def _write(self, name: str, cols: dict) -> str:
        path = os.path.join(self.dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        return path

    def _turn_round(self, tag: str, n: int) -> Round:
        return self._turns(tag, n), None, n

    def _turns(self, tag: str, n: int) -> str:
        rng = self.rng
        convs = rng.integers(0, self.shape.n_convs, n)
        grow = rng.random(n) < 0.5
        idx_col, diff_col = [], []
        for c, g in zip(convs.tolist(), grow.tolist()):
            if g or self.lengths[c] <= 1:
                idx_col.append(int(self.lengths[c]))
                diff_col.append(1)
                self.lengths[c] += 1
            else:
                self.lengths[c] -= 1
                idx_col.append(int(self.lengths[c]))
                diff_col.append(-1)
        idx = np.array(idx_col, dtype=np.int32)
        return self._write(
            f"turns-{tag}",
            {
                "conv_id": self.conv_ids[convs],
                "turn_idx": idx,
                "role": np.array(ROLES, dtype=object)[idx % 3],
                "diff": np.array(diff_col, dtype=np.int64),
            },
        )

    def _edges(self, tag: str, n: int) -> str:
        rng = self.rng
        # Changes land on first-hop edges (layer 0 to layer 1), so every
        # round's repair reaches the same depth.
        k, size = n // 2, self.layer_size
        live = sorted(e for e in self.edges if e[1] < 2 * size)
        dels = [live[i] for i in rng.choice(len(live), k, replace=False)]
        ins: set[tuple[int, int]] = set()
        while len(ins) < k:
            u, v = int(rng.integers(0, size)), int(rng.integers(size, 2 * size))
            if (u, v) not in self.edges:
                ins.add((u, v))
        self.edges.difference_update(dels)
        self.edges.update(ins)
        rows = [(u, v, -1) for u, v in dels] + [(u, v, 1) for u, v in sorted(ins)]
        e = np.array(rows, dtype=np.int64)
        return self._write(
            f"edges-{tag}", {"src": e[:, 0], "dst": e[:, 1], "diff": e[:, 2]}
        )


class Views:
    """The four maintained views over one SparkSession."""

    def __init__(self, spark, inputs: Inputs, tracer):
        from pyspark.sql import functions as F

        from differential_dataflow_spark.streaming import (
            CountMaintainer,
            DeltaJoin,
            IncrementalBFS,
            MaintainedFixpoint,
        )

        self.spark, self.tracer = spark, tracer
        turns = spark.read.parquet(inputs.turns_path)
        edges = spark.read.parquet(inputs.edges_path)
        one = F.lit(1).cast("long").alias("diff")
        self.seed_s: dict[str, float] = {}

        t0 = time.perf_counter()
        self.count = CountMaintainer(
            spark, keys=["conv_id"], alias="n", compact_every=COMPACT_EVERY
        )
        self.count.seed_counts(
            turns.groupBy("conv_id").agg(F.count("*").alias("n")), count_col="n"
        )
        self.seed_s["count"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.join = DeltaJoin(
            spark, state_dir=None, on=["conv_id", "turn_idx"], compact_every=COMPACT_EVERY
        )
        self.join.seed("left", _users(turns).select("conv_id", "turn_idx", one))
        self.join.seed(
            "right", _responses(turns).select("conv_id", "turn_idx", "resp_role", one)
        )
        self.seed_s["join"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        roots = spark.createDataFrame([(r,) for r in inputs.roots], "node long")
        self.reach = MaintainedFixpoint(
            spark,
            fact_cols=["node"],
            axioms=lambda inp: roots,
            step=lambda f, inp: f.withColumnRenamed("node", "src")
            .join(inp["edges"], ["src"])
            .select(F.col("dst").alias("node")),
            inputs={"edges": edges},
            input_keys={"edges": ["src"]},
        )
        self.seed_s["reach"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.bfs = IncrementalBFS(spark, edges, root=0)
        self.seed_s["bfs"] = time.perf_counter() - t0
        self.join_deltas: list[pd.DataFrame] = []
        self.phase = "warm"  # of the rounds being applied
        self.out_rows: list[tuple[str, dict[str, int]]] = []

    def apply(self, turns_path: str | None, edges_path: str | None) -> dict[str, int]:
        """Bring the views a round feeds up to date; returns the output rows
        each of them emitted."""
        out: dict[str, int] = {}
        if turns_path is not None:
            self._keyed(turns_path, out)
        if edges_path is not None:
            self._graph(edges_path, out)
        return out

    def _keyed(self, turns_path: str, out: dict[str, int]) -> None:
        from differential_dataflow_spark.session import release_checkpoint

        spark, span = self.spark, self.tracer.span
        turns = spark.read.parquet(turns_path)
        with span("maintain.count.round", phase=self.phase):
            out["count"] = len(
                self.count.process_batch(turns.select("conv_id", "diff")).toPandas()
            )
        with span("join.delta.round", phase=self.phase):
            left = _users(turns).select("conv_id", "turn_idx", "diff")
            right = _responses(turns).select("conv_id", "turn_idx", "resp_role", "diff")
            delta = self.join.process_batch(left, right)
            rows = delta.toPandas()
            release_checkpoint(delta)
            self.join_deltas.append(rows)
            out["join"] = len(rows)

    def _graph(self, edges_path: str, out: dict[str, int]) -> None:
        from pyspark.sql import functions as F

        spark, span = self.spark, self.tracer.span
        edges = spark.read.parquet(edges_path)
        with span("fixpoint.reach.round", phase=self.phase):
            out["reach"] = len(self.reach.process_batch({"edges": edges}).toPandas())
        with span("maintain.bfs.round", phase=self.phase):
            ins = edges.filter(F.col("diff") > 0).select("src", "dst")
            dels = edges.filter(F.col("diff") < 0).select("src", "dst")
            out["bfs"] = len(self.bfs.process_batch(ins, dels).toPandas())

    def release(self) -> None:
        for view in (self.count, self.reach, self.bfs):
            view.release()


def _users(turns):
    from pyspark.sql import functions as F

    return turns.filter(F.col("role") == "user")


def _responses(turns):
    from pyspark.sql import functions as F

    return turns.filter(F.col("role") != "user").select(
        "conv_id",
        (F.col("turn_idx") - 1).alias("turn_idx"),
        F.col("role").alias("resp_role"),
        *[c for c in turns.columns if c == "diff"],
    )


# --------------------------------------------------------------------------- #
# Reference: from-scratch recompute in DuckDB.


JOIN_SQL = """
    SELECT u.conv_id, u.turn_idx, r.role AS resp_role
    FROM {t} u JOIN {t} r
      ON r.conv_id = u.conv_id AND r.turn_idx = u.turn_idx + 1
    WHERE u.role = 'user' AND r.role <> 'user'
"""


def check(views: Views, inputs: Inputs, used: list[Round]) -> list[str]:
    """Compare every view's final state with DuckDB after the rounds in
    ``used``; returns the views that differ."""
    con = harness.duckdb_connect(inputs.dir)
    con.execute(f"CREATE VIEW t0 AS SELECT * FROM read_parquet('{inputs.turns_path}')")
    # ``used`` starts with the set-up round, which carries both kinds of
    # delta, so neither file list is empty.
    turn_files = ", ".join(f"'{t}'" for t, _, _ in used if t is not None)
    con.execute(
        "CREATE TABLE tn AS SELECT conv_id, turn_idx, role FROM ("
        "SELECT conv_id, turn_idx, role, 1 AS diff FROM t0"
        f" UNION ALL SELECT conv_id, turn_idx, role, diff FROM read_parquet([{turn_files}])"
        ") GROUP BY ALL HAVING sum(diff) = 1"
    )
    edge_files = ", ".join(f"'{e}'" for _, e, _ in used if e is not None)
    con.execute(
        "CREATE TABLE en AS SELECT src, dst FROM ("
        f"SELECT src, dst, 1 AS diff FROM read_parquet('{inputs.edges_path}')"
        f" UNION ALL SELECT src, dst, diff FROM read_parquet([{edge_files}])"
        ") GROUP BY ALL HAVING sum(diff) = 1"
    )
    roots = ", ".join(f"({r})" for r in inputs.roots)
    want = {
        "count": con.sql("SELECT conv_id, count(*) AS n FROM tn GROUP BY 1").df(),
        "join": con.sql(JOIN_SQL.format(t="tn")).df(),
        "reach": con.sql(
            f"""WITH RECURSIVE r(node) AS (
                  SELECT * FROM (VALUES {roots}) v(node)
                  UNION SELECT e.dst FROM r JOIN en e ON e.src = r.node)
                SELECT node FROM r"""
        ).df(),
        "bfs": con.sql(
            """WITH RECURSIVE r(node, dist) AS (
                  SELECT 0::BIGINT, 0::BIGINT
                  UNION SELECT e.dst, r.dist + 1 FROM r JOIN en e ON e.src = r.node)
                SELECT node, min(dist) AS dist FROM r GROUP BY 1"""
        ).df(),
    }
    join0 = con.sql(JOIN_SQL.format(t="t0")).df().assign(diff=1)
    joined = pd.concat([join0] + views.join_deltas, ignore_index=True)
    got = {
        "count": views.count.counts().toPandas(),
        "join": _net(joined, ["conv_id", "turn_idx", "resp_role"]),
        "reach": views.reach.facts().toPandas(),
        "bfs": views.bfs.distances().toPandas(),
    }
    con.close()
    return [v for v in VIEWS if not _same(got[v], want[v])]


def _net(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Consolidate an update stream; rows must net to 0 or 1."""
    s = df.groupby(keys, as_index=False)["diff"].sum()
    if not s["diff"].isin([0, 1]).all():
        return s  # a weight other than 0/1 can never equal the reference
    return s[s["diff"] == 1].drop(columns="diff")


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = sorted(want.columns)
    if sorted(got.columns) != cols or len(got) != len(want):
        return False
    g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
    w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    return g.equals(w)


def run(spark, shape: Shape, seed: int, seconds: float, work: str, tracer) -> dict:
    t0 = time.perf_counter()
    inputs = Inputs(shape, seed, work, max(shape.min_cycles, round(seconds / CYCLE_S)))
    views = Views(spark, inputs, tracer)
    for rnd in inputs.warm:
        views.apply(*rnd[:2])
    setup_s = time.perf_counter() - t0
    ms: dict[str, list[float]] = {"graph": [], "bulk": [], "trickle": []}
    used: list[Round] = list(inputs.warm)

    def apply(kind: str, rnd: Round) -> None:
        views.phase = kind
        t = time.perf_counter()
        with tracer.span("round"):
            views.out_rows.append((kind, views.apply(*rnd[:2])))
        ms[kind].append((time.perf_counter() - t) * 1000.0)
        used.append(rnd)

    error = None
    tracer.start_window()
    try:
        for rnd in inputs.graph:
            apply("graph", rnd)
        for cycle in inputs.cycles:
            apply("bulk", cycle[0])
            for rnd in cycle[1:]:
                apply("trickle", rnd)
    except Exception as e:  # the views' state is now undefined: stop
        error = f"{views.phase} round {len(ms[views.phase])}: {type(e).__name__}: {e}"[:300]
    tracer.end_window()
    n = len(used) - len(inputs.warm) + (1 if error else 0)
    # A wrong final state shows no round correct, so every round fails.
    bad = [error] if error else check(views, inputs, used)
    views.release()
    return {
        "setup_s": setup_s,
        "seed_s": views.seed_s,
        "op_ms": ms["trickle"],
        "items": sum(u for cycle in inputs.cycles[:len(ms["bulk"])] for _, _, u in cycle),
        "items_s": (sum(ms["bulk"]) + sum(ms["trickle"])) / 1000.0 or float("nan"),
        "attempted": n,
        "failed": n if bad else 0,
        "mismatches": bad,
        "out_rows": views.out_rows,
        "round_ms": ms,
    }
