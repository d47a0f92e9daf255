"""``dashboard_loop``: the 14 frozen headline queries (``bench=True``),
one closed-loop client, each round in a seeded order.

An op is one click: call the registry builder afresh, run the plan to
completion and bring the result to the driver. Oracle-carrying queries
must hash-equal DuckDB running the query's ``oracle_sql`` over the same
files; the rows-only query must repeat its warm-up row count and hash.
"""

from __future__ import annotations

import json
import os
import random
import time

from gen import TABLES, make_tables

NAME = "dashboard_loop"
# one warm round of the 14 queries at SF on a 4-core host, seconds;
# sizes the op list from --seconds (whole rounds)
NOMINAL_OP_LIST_S = 7.5
SF, TINY_SF = 0.01, 0.001
PER_QUERY = (
    "pricing_summary", "filter_project", "top_customers", "revenue_by_nation",
    "weekly_chart_streak", "sessionization", "asof_purchase_value",
    "dedup_exact_docs", "text_stats", "near_dup_pairs", "cosine_topk",
    "minhash_near_dups", "top_terms", "rolling_7d_spend",
)


def op_list_size(seconds: float) -> int:
    """Number of whole rounds: as many as fit in ``seconds`` at the
    nominal round, at least one."""
    return max(1, int(seconds // NOMINAL_OP_LIST_S))


def generate(cache_dir: str, seed: int, n_rounds: int, tiny: bool) -> dict:
    d = os.path.join(cache_dir, "tables")
    done = os.path.join(cache_dir, "tables.json")
    if not os.path.exists(done):
        size = make_tables(d, seed, TINY_SF if tiny else SF)
        with open(done, "w") as f:
            json.dump({"bytes": size}, f)
    with open(done) as f:
        return {"dir": d, **json.load(f)}


def _oracle(specs: dict, input_dir: str, cache_dir: str) -> dict:
    """(columns, rows, vhash) of every oracle-carrying query, cached
    per seed next to the inputs (the oracle is not under test)."""
    path = os.path.join(cache_dir, "oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    from scripts.driver_sim import vhash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet/*.parquet'")
    out = {}
    for name, spec in specs.items():
        if spec.oracle:
            pdf = con.execute(spec.oracle).fetchdf()
            out[name] = {"columns": sorted(pdf.columns), "rows": len(pdf), "hash": vhash(pdf)}
    con.close()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def setup(ctx, inputs: dict) -> dict:
    """Register the inputs, compute the oracle, then one warm-up round
    in the fixed order (it also fixes the rows-only reference)."""
    from databeats_spark.registry import registry
    from scripts.driver_sim import vhash

    specs = {s.name: s for s in registry() if s.name in PER_QUERY}
    t = time.perf_counter()
    oracle = _oracle(specs, inputs["dir"], ctx.cache_dir)
    state = {"specs": specs, "oracle": oracle, "oracle_s": time.perf_counter() - t,
             "dir": inputs["dir"], "input_bytes": inputs["bytes"], "seen": {}, "vhash": vhash}
    for name in PER_QUERY:
        _, step, check = _op(ctx, state, "warmup", name)
        try:
            check(step())
        except Exception:  # noqa: BLE001 — a failing query is counted when timed
            pass
    return state


def _op(ctx, state: dict, op_id: str, name: str):
    spec = state["specs"][name]
    vhash = state["vhash"]

    def step():
        df = ctx.build(name, lambda: spec.build(ctx.spark, state["dir"]))
        return ctx.collect(df, query=name)

    def check(pdf) -> list[str]:
        pdf = ctx.wrong(name, pdf)
        got = {"columns": sorted(pdf.columns), "rows": len(pdf), "hash": vhash(pdf)}
        if name in state["oracle"]:
            return [] if got == state["oracle"][name] else ["oracle"]
        # rows-only: non-empty, and identical to its first result
        ref = state["seen"].setdefault(name, got)
        return [] if got["rows"] > 0 and got == ref else ["repeat"]

    return f"{op_id}-{name}", step, check


def ops(ctx, state: dict, n_rounds: int):
    rng = random.Random(ctx.seed)
    for r in range(n_rounds):
        order = list(PER_QUERY)
        rng.shuffle(order)
        for name in order:
            yield _op(ctx, state, f"r{r}", name)


def sink_stats(ctx, state: dict) -> dict:
    """The dashboard only reads."""
    return {"bytes_written": 0, "files_written": 0, "input_bytes": state["input_bytes"], "state_bytes": 0}
