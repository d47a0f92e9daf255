"""Epoch-partial compaction (VERDICT r10 item 4): folding committed
epoch partitions into an epoch=-1 base must leave the serving readout
byte-identical with fewer files, never touch uncommitted (replayable)
epochs, and recover cleanly from a crash between fold and swap."""

from __future__ import annotations

import glob
import os
import shutil

import duckdb
import pytest

from databeats_spark.streaming.chart import (
    chart_streaks_from_state,
    compact_chart_state,
    run_incremental_chart,
    weekly_state_sink,
)
from databeats_spark.streaming.compaction import read_state, recover_compaction
from databeats_spark.streaming.events import stream_events
from databeats_spark.streaming.monitor import compact_sprt_state, sprt_state_sink
from tests.conftest import SF_SMOKE


def _parquet_files(state: str) -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(state, "**", "*.parquet"), recursive=True)
        if "_compact_tmp" not in f
    ]


def _epoch_dirs(state: str) -> list[str]:
    return sorted(
        os.path.relpath(d, state)
        for d in glob.glob(os.path.join(state, "**", "epoch=*"), recursive=True)
    )


@pytest.fixture()
def staged_events(tmp_path):
    """Two staged parquet drops of the smoke events table, by time."""
    src = f"{SF_SMOKE}/events.parquet"
    d = tmp_path / "incoming"
    d.mkdir()
    con = duckdb.connect()
    cut = con.sql(f"SELECT median(epoch_us(ts)) FROM '{src}'").fetchone()[0]
    con.sql(
        f"COPY (SELECT * FROM '{src}' WHERE epoch_us(ts) <= {cut}) TO '{d}/drop1.parquet' (FORMAT PARQUET)"
    )
    second = tmp_path / "drop2.parquet"
    con.sql(
        f"COPY (SELECT * FROM '{src}' WHERE epoch_us(ts) > {cut}) TO '{second}' (FORMAT PARQUET)"
    )
    return str(d), str(second)


def _drained_chart_state(spark, staged_events, tmp_path, name: str) -> str:
    incoming, second_file = staged_events
    state = str(tmp_path / name)
    run_incremental_chart(spark, stream_events(spark, incoming), state)
    shutil.copy(second_file, incoming + "/drop2.parquet")
    run_incremental_chart(spark, stream_events(spark, incoming), state)
    return state


def test_chart_compaction_is_byte_identical_with_fewer_files(
    spark, staged_events, tmp_path
):
    state = _drained_chart_state(spark, staged_events, tmp_path, "st")
    before = chart_streaks_from_state(spark, state).toPandas()
    files_before = len(_parquet_files(state))
    assert any(not d.endswith("epoch=-1") for d in _epoch_dirs(state))

    n = compact_chart_state(spark, state)
    assert n > 0
    after = chart_streaks_from_state(spark, state).toPandas()
    assert before.equals(after)
    assert len(_parquet_files(state)) < files_before
    # every multi-epoch week folded to its lone base partition; weeks
    # touched by a single epoch are correctly skipped (nothing to fold)
    by_week: dict[str, int] = {}
    for d in _epoch_dirs(state):
        by_week[os.path.dirname(d)] = by_week.get(os.path.dirname(d), 0) + 1
    assert max(by_week.values()) == 1
    assert not os.path.exists(os.path.join(state, "_compact_manifest.json"))
    # a second compact is a no-op (nothing left to fold)
    assert compact_chart_state(spark, state) == 0
    assert chart_streaks_from_state(spark, state).toPandas().equals(before)


def test_chart_compaction_skips_uncommitted_epochs(
    spark, staged_events, tmp_path
):
    """An epoch written but not committed to the checkpoint can replay
    under the SAME id after restart; compaction must leave it alone so
    the replay's dynamic overwrite stays idempotent."""
    state = _drained_chart_state(spark, staged_events, tmp_path, "st2")
    incoming, _ = staged_events
    batch = spark.read.parquet(incoming)
    sink = weekly_state_sink(state)
    sink(batch, 99)  # written, never committed (no commits/99 file)
    expected = chart_streaks_from_state(spark, state).toPandas()

    compact_chart_state(spark, state)
    uncommitted = [d for d in _epoch_dirs(state) if d.endswith("epoch=99")]
    assert uncommitted, "uncommitted epoch partitions must survive compaction"
    assert chart_streaks_from_state(spark, state).toPandas().equals(expected)

    sink(batch, 99)  # the crash-replay of that epoch
    assert chart_streaks_from_state(spark, state).toPandas().equals(expected)


def test_chart_compaction_recovers_from_crash_between_fold_and_swap(
    spark, staged_events, tmp_path, monkeypatch
):
    """Kill the compactor right after the manifest is durably written
    (the worst window: tmp base complete, live partials still present).
    recover_compaction must finish the swap to the exact compacted
    state — no loss, no double-count."""
    import databeats_spark.streaming.compaction as comp

    state = _drained_chart_state(spark, staged_events, tmp_path, "st3")
    before = chart_streaks_from_state(spark, state).toPandas()

    real_recover = comp.recover_compaction
    calls = {"n": 0}

    def crashing_recover(path):
        calls["n"] += 1
        if calls["n"] == 2:  # the post-manifest swap call
            raise RuntimeError("simulated crash after manifest write")
        return real_recover(path)

    monkeypatch.setattr(comp, "recover_compaction", crashing_recover)
    with pytest.raises(RuntimeError):
        compact_chart_state(spark, state)
    monkeypatch.setattr(comp, "recover_compaction", real_recover)

    assert os.path.exists(os.path.join(state, "_compact_manifest.json"))
    assert recover_compaction(state)
    after = chart_streaks_from_state(spark, state).toPandas()
    assert before.equals(after)
    by_week: dict[str, int] = {}
    for d in _epoch_dirs(state):
        by_week[os.path.dirname(d)] = by_week.get(os.path.dirname(d), 0) + 1
    assert max(by_week.values()) == 1
    assert not os.path.exists(os.path.join(state, "_compact_manifest.json"))
    assert not os.path.exists(os.path.join(state, "_compact_tmp"))


def test_compaction_folds_epochs_older_than_retention_window(
    spark, staged_events, tmp_path
):
    """Structured Streaming retains only the last minBatchesToRetain
    commit files; an epoch whose commits/<id> file has rotated away
    must STILL fold (batches commit sequentially, so anything <= the
    newest committed id can never replay — ADVICE r11). Simulate the
    rotation by deleting the oldest commit file before compacting."""
    state = _drained_chart_state(spark, staged_events, tmp_path, "st4")
    before = chart_streaks_from_state(spark, state).toPandas()
    ckpt = state + "_ckpt"
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
    )
    assert len(commits) >= 2, "need two drained epochs to simulate rotation"
    os.remove(os.path.join(ckpt, "commits", commits[0]))

    assert compact_chart_state(spark, state) > 0
    # the rotated-away epoch still folds: every multi-epoch week is
    # down to ONE partition. Before the frontier rule, weeks touched by
    # both epochs would fold only the still-ledgered one and strand the
    # rotated epoch beside the new base (2 partitions). Weeks touched
    # ONLY by the rotated epoch legitimately keep their lone partition
    # (a lone dir is never folded — no win).
    by_week: dict[str, int] = {}
    for d in _epoch_dirs(state):
        by_week[os.path.dirname(d)] = by_week.get(os.path.dirname(d), 0) + 1
    assert max(by_week.values()) == 1, (
        "pre-retention-window epoch was stranded beside a folded base"
    )
    assert chart_streaks_from_state(spark, state).toPandas().equals(before)


def test_recovery_raises_when_folded_base_is_lost(tmp_path):
    """A manifest move whose tmp source vanished with no destination in
    place means the folded base is gone — recovery must fail loudly,
    not no-op past the data loss (ADVICE r11), and must leave the
    manifest behind for forensic repair."""
    import json

    state = tmp_path / "st5"
    (state / "_compact_tmp").mkdir(parents=True)  # tmp exists, but empty
    (state / "_compact_manifest.json").write_text(
        json.dumps({"delete": [], "move": ["wk=2024-01-01/epoch=-1"]})
    )
    with pytest.raises(RuntimeError, match="folded base lost"):
        recover_compaction(str(state))
    assert (state / "_compact_manifest.json").exists()

    # but if the destination ALREADY exists (replay of a finished move)
    # the same manifest is an idempotent no-op
    (state / "wk=2024-01-01" / "epoch=-1").mkdir(parents=True)
    assert recover_compaction(str(state))
    assert not (state / "_compact_manifest.json").exists()


def test_zero_row_fold_aborts_before_any_destruction(spark, tmp_path):
    """compact_epoch_partials accepts arbitrary fold callables; one
    that yields zero rows for a selected key prefix writes no epoch=-1
    base to tmp, and without a pre-flight the manifest's deletes would
    destroy the partials before the 'folded base lost' recovery guard
    could fire — unrecoverably (ADVICE r12). The pre-flight must fail
    the compaction as a clean no-op: partials intact, no manifest, and
    the next recover_compaction a no-op that clears tmp."""
    from pyspark.sql import functions as F

    from databeats_spark.streaming.compaction import compact_epoch_partials

    state = str(tmp_path / "st6")
    df = spark.range(4).select(
        F.lit("a").alias("k"),
        F.col("id").alias("v"),
        (F.col("id") % 2).cast("long").alias("epoch"),
    )
    df.write.partitionBy("k", "epoch").parquet(state)
    dirs_before = _epoch_dirs(state)
    assert len(dirs_before) == 2

    with pytest.raises(RuntimeError, match="before any destruction"):
        compact_epoch_partials(
            spark,
            state,
            lambda d: d.filter(F.lit(False)),
            ["k", "epoch"],
            committed={0, 1},
        )
    assert _epoch_dirs(state) == dirs_before, "partials were destroyed"
    assert not os.path.exists(os.path.join(state, "_compact_manifest.json"))
    assert recover_compaction(state) is False  # no-op, clears tmp
    assert not os.path.exists(os.path.join(state, "_compact_tmp"))


def test_sprt_compaction_is_byte_identical_with_fewer_files(spark, tmp_path):
    from databeats_spark.streaming.monitor import (
        run_sprt_monitor_durable,
        sprt_monitor_from_partials,
    )

    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    src = str(tmp_path / "events")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev.filter("event_id % 2 = 0").coalesce(1).write.parquet(src)
    state = str(tmp_path / "sprt_state")
    run_sprt_monitor_durable(spark, src, schema, state)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    before = run_sprt_monitor_durable(spark, src, schema, state).toPandas()
    files_before = len(_parquet_files(state))

    assert compact_sprt_state(spark, state) > 0
    after = sprt_monitor_from_partials(spark, state).toPandas()
    assert before.equals(after)
    assert len(_parquet_files(state)) < files_before
    assert _epoch_dirs(state) == ["epoch=-1"]


def test_ann_corpus_compaction_re_clusters_and_keeps_latest(spark, tmp_path):
    """The IVF ingest corpus compacts to one base partition per
    centroid with an IDENTICAL searchable corpus; the latest committed
    epoch stays unfolded so drift() still reads the newest batch."""
    from pyspark.sql import functions as F

    from databeats_spark.ml.ann import IVFIndex
    from databeats_spark.operators.multimodal import attach_payload, encode_payloads
    from databeats_spark.sources.tables import load_tables
    from databeats_spark.streaming.ann_ingest import StreamingIVFIngest, compact_ann_corpus

    docs = load_tables(spark, SF_SMOKE, ["documents"]).documents
    seed = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    emb = encode_payloads(attach_payload(seed)).localCheckpoint()
    idx = IVFIndex.fit(emb, id_col="doc_id", vec_col="embedding", n_lists=4)
    out = str(tmp_path / "corpus")
    ingest = StreamingIVFIngest(idx, out)

    for k, (lo, hi) in enumerate([(0, 30), (30, 50), (50, 80)]):
        b = attach_payload(
            seed.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        ).select("doc_id", "payload")
        ingest.sink(b, k)

    before = (
        ingest.corpus(spark).orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    drift_before = ingest.drift(spark)
    files_before = len(_parquet_files(out))

    # caller-owned ledger (sink driven directly, no drain checkpoint)
    assert compact_ann_corpus(spark, out, committed={0, 1, 2}) == 1
    after = (
        ingest.corpus(spark).orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    assert before.equals(after)
    assert len(_parquet_files(out)) < files_before
    tops = sorted({d.split("/")[0] for d in _epoch_dirs(out)})
    assert tops == ["epoch=-1", "epoch=2"]  # latest kept for drift()
    assert ingest.drift(spark) == drift_before

    # a replay of the kept (uncommitted-at-crash) epoch stays idempotent
    b2 = attach_payload(
        seed.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    ).select("doc_id", "payload")
    ingest.sink(b2, 2)
    assert (
        ingest.corpus(spark).orderBy("doc_id").toPandas().reset_index(drop=True)
        .equals(before)
    )

    # terminal pack folds everything into the base
    assert compact_ann_corpus(spark, out, committed={0, 1, 2}, keep_latest=False) == 1
    assert sorted({d.split("/")[0] for d in _epoch_dirs(out)}) == ["epoch=-1"]
    assert (
        ingest.corpus(spark).orderBy("doc_id").toPandas().reset_index(drop=True)
        .equals(before)
    )


_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.mark.parametrize(
    "make_sink", [weekly_state_sink, sprt_state_sink], ids=["chart", "sprt"]
)
def test_sink_leaves_session_overwrite_mode_alone(spark, tmp_path, make_sink):
    """Dynamic overwrite belongs to the sink's own write. Set
    session-wide, it would make every later partitioned overwrite in
    the session keep stale partitions."""
    before = spark.conf.get(_OVERWRITE_MODE)
    try:
        batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        make_sink(str(tmp_path / "state"))(batch, 0)
        assert spark.conf.get(_OVERWRITE_MODE) == before

        table = str(tmp_path / "plain")
        spark.range(3).selectExpr("id", "id + 1 AS k").write.partitionBy("k").parquet(table)
        spark.range(1).selectExpr("id", "1 AS k").write.mode("overwrite").partitionBy(
            "k"
        ).parquet(table)
        assert spark.read.parquet(table).count() == 1
    finally:
        spark.conf.set(_OVERWRITE_MODE, before)


_STATE_SCHEMA = "doc_id BIGINT, v STRING, epoch BIGINT"


def test_read_state_of_missing_path_is_empty_with_schema(spark, tmp_path):
    got = read_state(spark, str(tmp_path / "never_written"), _STATE_SCHEMA, 3)
    assert got.count() == 0
    assert got.schema.simpleString() == "struct<doc_id:bigint,v:string,epoch:bigint>"


def test_read_state_of_unreadable_path_raises(spark, tmp_path):
    """An existing table that cannot be read must fail the micro-batch
    (the checkpoint retries), never pass for empty state."""
    from pyspark.errors import AnalysisException

    empty_dir = tmp_path / "empty"
    empty_dir.mkdir()
    with pytest.raises(AnalysisException) as err:
        read_state(spark, str(empty_dir), _STATE_SCHEMA)
    assert err.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"


def test_read_state_excludes_the_current_epoch(spark, tmp_path):
    path = str(tmp_path / "st")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 2)], _STATE_SCHEMA
    ).write.partitionBy("epoch").parquet(path)
    got = read_state(spark, path, _STATE_SCHEMA, exclude_epoch=1)
    assert sorted(r.doc_id for r in got.collect()) == [1, 3]
    assert read_state(spark, path, _STATE_SCHEMA).count() == 3
