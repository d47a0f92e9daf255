"""Seeded input generators, one per workload.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test only ever sees the files
written here.

- :func:`make_tables` writes the ten TPC-H-ish + corpus tables the
  registry queries read (same schemas and value domains as the tables
  TESTDATA.md describes), each table split over several parquet files
  in a seeded row order.
- :func:`make_weekly` writes one Spotify-shaped extract per simulated
  week at the reference cardinalities, plus that week's play events.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# row counts at sf0.1 (bench.py's scale); make_tables scales them
_ROWS_AT_SF01 = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
_FILES = {"orders": 4, "lineitem": 4, "events": 4, "documents": 2, "customer": 2, "part": 2}

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400_000_000
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table, rng: np.random.Generator) -> int:
    """Write ``table`` as ``<name>.parquet/part-XXXXX.parquet`` in a
    seeded row order; return the bytes written."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n_files = _FILES.get(name, 1)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    size = 0
    for i in range(n_files):
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        size += os.path.getsize(path)
    return size


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng: np.random.Generator, n: int, pair_limit: int = 300) -> pa.Table:
    """Random-vocabulary documents with planted duplicates: ~5% carry a
    trailing 'dup' marker, ~1% are exact copies of an earlier document
    and ~3% are near-duplicates (one word replaced) of one; a few
    near-duplicate pairs always fall inside the first ``pair_limit``
    ids, the window the exact Jaccard query scans."""
    lens = rng.integers(10, 101, n)
    words = [list(rng.choice(_VOCAB, k)) for k in lens]
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        words[i][-1] = "dup"
    exact = set(rng.choice(np.arange(1, n), max(1, n // 100), replace=False).tolist())
    near = set(rng.choice(np.arange(1, n), max(1, 3 * n // 100), replace=False).tolist())
    near |= set(rng.choice(np.arange(1, min(n, pair_limit)), min(n - 1, pair_limit - 1, 8), replace=False).tolist())
    for i in sorted(exact | near):
        src = int(rng.integers(0, i))
        w = list(words[src])
        if i in near and i not in exact:
            w[int(rng.integers(0, len(w)))] = str(rng.choice(_VOCAB))
        words[i] = w
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(rng.choice(["de", "en", "es", "fr", "zh"], n)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
    })


def make_tables(out_dir: str, seed: int, sf: float = 0.01) -> int:
    """Write the ten registry tables at scale ``sf`` (row counts are
    the sf0.1 counts times sf/0.1). Returns the bytes written."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf / 0.1)) for k, v in _ROWS_AT_SF01.items()}
    size = 0
    size += _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), rng)
    size += _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    }), rng)
    c = n["customer"]
    size += _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(c), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    }), rng)
    s = n["supplier"]
    size += _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(s), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }), rng)
    p = n["part"]
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    size += _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(p), type=pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, p), " "), rng.choice(noun, p)),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), type=pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    }), rng)
    o = n["orders"]
    day0 = 9131 * _DAY_US  # 1995-01-01
    size += _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(o), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), type=pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(day0 + rng.integers(0, 2404, o) * _DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    }), rng)
    li = n["lineitem"]
    size += _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(day0 + (1 + rng.integers(0, 2498, li)) * _DAY_US),
    }), rng)
    size += _write(out_dir, "events", events_table(rng, n["events"], EVENTS_T0_US, 30 * _DAY_US,
                                                   n_users=max(50, n["events"] // 66)), rng)
    size += _write(out_dir, "documents", _docs(rng, n["documents"]), rng)
    e = n["embeddings"]
    label = rng.integers(0, 10, e)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 1.5, (e, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    size += _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(e), type=pa.int64()),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    }), rng)
    return size


def events_table(rng, n: int, t0_us: int, span_us: int, n_users: int, id0: int = 0) -> pa.Table:
    """``n`` events spread uniformly over [t0, t0 + span): event ids
    follow time order, values are exponential (mean 50, cents)."""
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# reference cardinalities of the weekly extract (BASELINE.md)
WEEKLY_ARTISTS, WEEKLY_ALBUMS, WEEKLY_TRACKS = 1_618, 4_048, 8_170
WEEKLY_EVENTS = 10_000


def make_weekly(out_dir: str, seed: int, n_weeks: int, scale: float = 1.0) -> int:
    """Write ``n_weeks`` weekly extracts under ``week-NN/`` (tracks,
    artists, albums: that week's snapshot rows) plus one shared
    ``audio.parquet`` and ``week-NN/events.parquet`` (that week's plays,
    stamped into the week). Returns the bytes written."""
    from tests.spotify_fixtures import T0, WEEK, gen_spotify

    tracks, artists, albums, audio = gen_spotify(
        n_artists=max(10, int(WEEKLY_ARTISTS * scale)),
        n_albums=max(20, int(WEEKLY_ALBUMS * scale)),
        n_tracks=max(50, int(WEEKLY_TRACKS * scale)),
        n_weeks=n_weeks,
        seed=seed,
    )
    rng = np.random.default_rng(seed + 1)
    size = 0

    def put(df: pd.DataFrame, path: str) -> None:
        nonlocal size
        df.to_parquet(path, index=False)
        size += os.path.getsize(path)

    os.makedirs(out_dir, exist_ok=True)
    put(audio, os.path.join(out_dir, "audio.parquet"))
    n_ev = max(200, int(WEEKLY_EVENTS * scale))
    for w in range(n_weeks):
        d = os.path.join(out_dir, f"week-{w:02d}")
        os.makedirs(d, exist_ok=True)
        ts = T0 + w * WEEK
        for name, df in (("tracks", tracks), ("artists", artists), ("albums", albums)):
            put(df[df["timestamp"] == ts].reset_index(drop=True), os.path.join(d, f"{name}.parquet"))
        ev = events_table(rng, n_ev, ts * 1_000_000, WEEK * 1_000_000,
                          n_users=max(50, n_ev // 7), id0=w * n_ev)
        path = os.path.join(d, "events.parquet")
        pq.write_table(ev, path)
        size += os.path.getsize(path)
    return size
