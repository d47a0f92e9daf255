"""``weekly_refresh``: each op is one simulated week of the reference
DAG, one closed-loop client.

A week: read the fresh extract and the raw history, ``plans.etl
.transform`` them, append the extract to the history and overwrite the
curated snapshots, drain the week's play events into the streaming
chart state and serve the chart from it, run the batch twin of that
chart (registry ``weekly_chart_streak``), read the dashboard's top
tracks from the snapshot, and retrain the popularity model
(``algo="lr"``). The week's files arrive before the op starts; the
state the weeks write (history, snapshots, stream state, model) grows
from week to week. Weeks 0 and 1 are the warm-up: after the cold week 0
the JVM is still compiling, and week 1 ran 0.5-2.3 s (4-18%) slower
than week 2 in 10 of 12 runs, while weeks 2-5 held within 5% of each
other.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from gen import make_weekly
from probes import dir_stats

NAME = "weekly_refresh"
# one warm week at the reference cardinalities on a 4-core host, seconds
NOMINAL_OP_LIST_S = 14.0
WARMUP_WEEKS = 2
TINY_SCALE = 0.05
EXTRACTS = ("tracks", "artists", "albums")


def op_list_size(seconds: float) -> int:
    """Number of timed weeks (after the warm-up weeks): as many as fit
    in ``seconds`` at the nominal week, at least one."""
    return max(1, int(seconds // NOMINAL_OP_LIST_S))


def generate(cache_dir: str, seed: int, n_weeks: int, tiny: bool) -> dict:
    d = os.path.join(cache_dir, "weeks")
    done = os.path.join(cache_dir, "weeks.json")
    if not os.path.exists(done):
        size = make_weekly(d, seed, WARMUP_WEEKS + n_weeks, TINY_SCALE if tiny else 1.0)
        with open(done, "w") as f:
            json.dump({"bytes": size}, f)
    with open(done) as f:
        return {"dir": d, **json.load(f)}


def setup(ctx, inputs: dict) -> dict:
    from databeats_spark.registry import registry
    from scripts.driver_sim import vhash

    store = os.path.join(ctx.run_dir, "store")
    state = {
        "dir": inputs["dir"],
        "store": store,
        "incoming": os.path.join(ctx.run_dir, "incoming"),
        "spec": next(s for s in registry() if s.name == "weekly_chart_streak"),
        "vhash": vhash,
        "oracle_s": 0.0,
        "written": [0, 0],
        "input_bytes": 0,
    }
    os.makedirs(state["incoming"])
    for w in range(WARMUP_WEEKS):
        _id, step, check = _week(ctx, state, w)
        try:
            check(step())
        except Exception:  # noqa: BLE001 — failures are counted on the timed weeks
            pass
    state["written"] = [0, 0]
    state["input_bytes"] = 0
    return state


def _path(state, *parts) -> str:
    return os.path.join(state["store"], *parts)


def _arrive(state, w: int) -> str:
    """Week ``w``'s play events land: one new file in the stream's
    input directory, and a batch directory holding weeks 0..w."""
    week = os.path.join(state["dir"], f"week-{w:02d}")
    shutil.copy(os.path.join(week, "events.parquet"), os.path.join(state["incoming"], f"w{w:02d}.parquet"))
    batch = os.path.join(state["store"], "batch", f"upto-{w:02d}")
    os.makedirs(os.path.join(batch, "events.parquet"))
    for v in range(w + 1):
        os.link(os.path.join(state["dir"], f"week-{v:02d}", "events.parquet"),
                os.path.join(batch, "events.parquet", f"w{v:02d}.parquet"))
    state["input_bytes"] += sum(
        os.path.getsize(os.path.join(week, f"{n}.parquet")) for n in (*EXTRACTS, "events"))
    return batch


def _week(ctx, state: dict, w: int):
    from databeats_spark.plans.analytics import top_tracks_by
    from databeats_spark.plans.etl import transform, write_history, write_snapshot
    from databeats_spark.plans.training import weekly_retrain
    from databeats_spark.sources.files import read_history_table, read_snapshot_table
    from databeats_spark.streaming.chart import chart_streaks_from_state, run_incremental_chart
    from databeats_spark.streaming.events import stream_events
    from tests.spotify_fixtures import T0, WEEK

    spark, tr = ctx.spark, ctx.tracer
    batch = _arrive(state, w)
    week = os.path.join(state["dir"], f"week-{w:02d}")
    hist = {k: _path(state, f"hist_{k}") for k in EXTRACTS}
    snap = {k: _path(state, f"snap_{k}") for k in EXTRACTS}
    chart_state, model = _path(state, "chart_state"), _path(state, "model")

    def step():
        started = time.time()
        with tr.span("sources.load"):
            fresh = {k: spark.read.parquet(os.path.join(week, f"{k}.parquet")) for k in EXTRACTS}
            audio = spark.read.parquet(os.path.join(state["dir"], "audio.parquet"))
            old = {k: read_history_table(spark, hist[k]).drop("__week") if w else None for k in EXTRACTS}
        with tr.span("plans.etl.transform"):
            cur = transform(fresh["tracks"], fresh["artists"], fresh["albums"], audio,
                            old["tracks"], old["artists"], old["albums"], None,
                            as_of_unix=T0 + (w + 1) * WEEK)

        def history():
            for k in EXTRACTS:
                write_history(fresh[k], hist[k])

        def snapshot():
            for k in EXTRACTS:
                write_snapshot(getattr(cur, k), snap[k])

        ctx.stage_span("plans.etl.write_history", history)
        ctx.stage_span("plans.etl.write_snapshot", snapshot)
        ctx.stage_span("streaming.chart.drain",
                       lambda: run_incremental_chart(spark, stream_events(spark, state["incoming"]), chart_state))
        with tr.span("streaming.chart.serve"):
            stream_chart = ctx.collect(chart_streaks_from_state(spark, chart_state))
        df = ctx.build("weekly_chart_streak", lambda: state["spec"].build(spark, batch))
        batch_chart = ctx.collect(df, query="weekly_chart_streak")
        with tr.span("plans.analytics.top_tracks"):
            df = top_tracks_by(read_snapshot_table(spark, snap["tracks"]), "popularity")
        top = ctx.collect(df)
        retrained = ctx.stage_span(
            "plans.training.retrain",
            lambda: weekly_retrain(spark, snap["tracks"], model, algo="lr", seed=ctx.seed))
        return {"started": started, "stream": stream_chart, "batch": batch_chart, "top": top,
                "retrain": retrained}

    def check(out) -> list[str]:
        size, files = dir_stats(state["store"], since=out["started"])
        state["written"][0] += size
        state["written"][1] += files
        exp = _expected(ctx, state, w, batch)
        snapshot = _read(snap["tracks"])
        shown = ctx.wrong("snapshot", snapshot)
        chart = dict(zip(shown["track_id"], shown["chart"]))
        stream, bchart = ctx.wrong("chart_stream", out["stream"]), ctx.wrong("weekly_chart_streak", out["batch"])
        fit = snapshot[["popularity", *_audio_cols()]].dropna()
        rmse = out["retrain"].rmse
        checks = {
            "tracks_chart": len(chart) > 0 and chart == exp["chart"],
            "stream_chart": _hashed(state, stream) == exp["streak"],
            "batch_chart": _hashed(state, bchart) == exp["streak"],
            "top_tracks": _rows(ctx.wrong("top_tracks", out["top"])) == _top_tracks(snapshot),
            "history_rows": _count(hist["tracks"]) == exp["history_rows"],
            "snapshots": all(len(_read(snap[k])) > 0 for k in ("artists", "albums")),
            "retrain": out["retrain"].n_rows == len(fit) and math.isfinite(rmse)
            and rmse < float(fit["popularity"].std()) and os.path.isdir(os.path.join(model, "metadata")),
        }
        return [k for k, ok in checks.items() if not ok]

    return f"week-{w:02d}", step, check


def _audio_cols():
    from databeats_spark.schemas import AUDIO_FEATURE_COLS

    return list(AUDIO_FEATURE_COLS)


def _read(path: str):
    import pandas as pd

    return pd.read_parquet(path)


def _count(path: str) -> int:
    import pyarrow.dataset as ds

    # the history's partition directories start with "_" (``__week=``),
    # which pyarrow skips by default
    return ds.dataset(path, format="parquet", partitioning="hive",
                      ignore_prefixes=[".", "_SUCCESS"]).count_rows()


def _hashed(state, pdf) -> dict:
    return {"columns": sorted(pdf.columns), "rows": len(pdf), "hash": state["vhash"](pdf)}


def _rows(pdf) -> list[tuple]:
    return [tuple(r) for r in pdf[["track_name", "artist_id", "popularity"]].itertuples(index=False)]


def _top_tracks(snapshot, k: int = 20) -> list[tuple]:
    """pandas replica of plans.analytics.top_tracks_by(.., "popularity")."""
    t = snapshot.dropna(subset=["popularity", "track_name"])
    t = t.sort_values(["popularity", "track_id"], ascending=[False, True], kind="mergesort")
    t = t.drop_duplicates("track_name").sort_values(
        ["popularity", "track_name"], ascending=[False, True], kind="mergesort").head(k)
    return _rows(t)


def _expected(ctx, state: dict, w: int, batch: str) -> dict:
    """The week's oracle, cached per seed: the tracks chart by the
    reference spec (:func:`week_on_chart`) over what the pipeline has
    seen (raw history + this week's filtered extract), the DuckDB
    ``weekly_chart_streak`` oracle over the cumulative events, and the
    history row count."""
    path = os.path.join(ctx.cache_dir, f"expected-week-{w:02d}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    t = time.perf_counter()
    import duckdb
    import pandas as pd
    from databeats_spark.plans.etl import RETENTION_DAYS
    from tests.spotify_fixtures import T0, WEEK

    raw = [_read(os.path.join(state["dir"], f"week-{v:02d}", "tracks.parquet")) for v in range(w + 1)]
    seen = pd.concat(raw[:-1] + [raw[-1][raw[-1]["popularity"] != 0]], ignore_index=True)
    ref = week_on_chart(seen.drop_duplicates(["track_id", "timestamp"]), "track_id", k=50)
    # the snapshot keeps tracks with audio features whose newest row is
    # inside the retention window
    audio = set(_read(os.path.join(state["dir"], "audio.parquet"))["track_id"])
    newest = seen.groupby("track_id")["timestamp"].max()
    kept = newest[newest > T0 + (w + 1) * WEEK - RETENTION_DAYS * 86400].index
    ref = ref[ref.index.isin(kept) & ref.index.isin(audio)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{batch}/events.parquet/*.parquet'")
    exp = {
        "chart": {str(k): int(v) for k, v in ref.items()},
        "streak": _hashed(state, con.execute(state["spec"].oracle).fetchdf()),
        "history_rows": sum(len(r) for r in raw),
    }
    con.close()
    with open(path, "w") as f:
        json.dump(exp, f)
    state["oracle_s"] += time.perf_counter() - t
    return exp


def week_on_chart(df, col: str, k: int = 50):
    """Entity -> chart streak, vectorized from the same spec as
    tests/spotify_fixtures.reference_week_on_chart (which walks every
    entity in Python; the benchmark's tests pin the two equal):
    per-snapshot top-k by (popularity desc, entity asc); per entity in
    time order the streak counts trailing rows that are on their
    snapshot's chart with a gap of at most 7 days from the previous
    row; zero when the entity's newest row is 7 or more days older than
    the newest snapshot. One row per (entity, timestamp) expected."""
    import pandas as pd

    d = df[[col, "timestamp", "popularity"]].copy()
    d["ts"] = pd.to_datetime(d["timestamp"], unit="s")
    ranked = d.sort_values(["ts", "popularity", col], ascending=[True, False, True], kind="mergesort")
    on = ranked.groupby("ts").cumcount() < k
    d["on"] = on.reindex(d.index)
    d = d.sort_values([col, "ts"], kind="mergesort")
    gap = (d["ts"] - d.groupby(col)["ts"].shift()).dt.days.fillna(0)
    qual = d["on"] & (gap <= 7)
    seg = (~qual).groupby(d[col]).cumsum()
    d["streak"] = qual.astype(int).groupby([d[col], seg]).cumsum()
    last = d.groupby(col).tail(1)
    stale = (d["ts"].max() - last["ts"]).dt.days >= 7
    return last["streak"].where(~stale, 0).set_axis(last[col]).astype(int)


def ops(ctx, state: dict, n_weeks: int):
    for w in range(WARMUP_WEEKS, WARMUP_WEEKS + n_weeks):
        yield _week(ctx, state, w)


def sink_stats(ctx, state: dict) -> dict:
    return {
        "bytes_written": state["written"][0],
        "files_written": state["written"][1],
        "input_bytes": state["input_bytes"],
        "state_bytes": dir_stats(_path(state, "chart_state"))[0],
    }
