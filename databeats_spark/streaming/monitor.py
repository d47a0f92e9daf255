"""Streaming twin of the SPRT e-value experiment monitor.

The batch registry query (`registry/events.py::_sprt_evalue_monitor`)
recomputes the daily cumulative log likelihood ratio from the full
event history; the monitor's natural deployment is a STREAM — decide
the moment the e-process crosses ln(1/α), not at the next batch run.

Shape: the streaming layer maintains ONE state row per calendar day
carrying both arms' exact BIGINT counts (treatment n/conversions,
control n/conversions) — a complete-mode aggregation whose state is
calendar-bounded (the SEQ_DAY_CAP posture: days, never events). The
serving computation (plug-in p0, cumulative LLR, the ln(1/α) line) is
the SAME closed form the batch query uses, applied to the compact
state table — so a drained stream reproduces the batch readout
EXACTLY (pinned in tests/test_streaming_monitor.py, including a
two-file incremental drain).

At 100 TB the raw events never re-scan: state is |days| rows. The
complete-mode memory sink (:func:`run_sprt_monitor`) is the test
harness; production drains the same state rows into the durable
epoch-partitioned table (:func:`run_sprt_monitor_durable`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databeats_spark.streaming.compaction import compact_epoch_partials, drain, write_epoch
from databeats_spark.streaming.events import run_available_now


def sprt_daily_state(events: DataFrame) -> DataFrame:
    """Per-day, per-arm exact counts — the monitor's whole state.
    Works on a streaming OR batch events frame (same expressions)."""
    arm = (F.col("user_id") % 2).cast("bigint")
    conv = (F.col("event_type") == "purchase").cast("bigint")
    return events.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("bigint").alias("dn"),
        F.sum(F.when(arm == 1, conv).otherwise(0)).cast("bigint").alias("ds"),
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("bigint").alias("cn"),
        F.sum(F.when(arm == 0, conv).otherwise(0)).cast("bigint").alias("cs"),
    )


def sprt_monitor_from_state(state: DataFrame) -> DataFrame:
    """The batch query's readout (registry/events.py::sprt_readout)
    over the compact day-state table, so a drained stream's readout is
    bit-equal to the batch query's."""
    from databeats_spark.registry.events import sprt_readout

    # Mirror the batch query's row set EXACTLY (ADVICE r10): the batch
    # daily aggregate filters arm==1 BEFORE the day groupBy, so a
    # calendar day with only control-arm events produces no readout
    # row there — here that day still has a (dn=0) state row, kept for
    # the p0 aggregate but excluded from the readout. Likewise the
    # batch p0 is an UNCAPPED keyless aggregate over all control
    # events and its SEQ_DAY_CAP bounds treatment days only — so p0
    # folds the whole state and the cap applies after the dn>0 filter.
    p0_tbl = state.agg(
        (F.sum("cs").cast("double") / F.sum("cn").cast("double")).alias("p0")
    )
    return sprt_readout(state.filter(F.col("dn") > 0), p0_tbl)


def _fold_days(partials: DataFrame) -> DataFrame:
    """Fold epoch partials to one row per day carrying both arms'
    exact BIGINT counts — shared by the serving read and compaction."""
    return partials.groupBy("day").agg(
        *(F.sum(c).cast("bigint").alias(c) for c in ("dn", "ds", "cn", "cs"))
    )


def sprt_state_sink(state_path: str):
    """foreachBatch sink: write each micro-batch's per-day partial
    counts into an EPOCH-partitioned state table. A replayed epoch
    overwrites exactly its own partition and the state is
    byte-identical afterwards (pinned in tests/test_streaming_monitor.py
    by calling the sink twice with the same epoch). The serving read
    folds partials per day, so state is (days × epochs) tiny partial
    rows — an additive merge against existing state (the simpler
    shape) would double-count on replay. On a long-lived stream bound
    the epochs factor with :func:`compact_sprt_state`."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(sprt_daily_state(batch_df), state_path, epoch_id, ["epoch"])

    return write


def sprt_monitor_from_partials(spark: SparkSession, state_path: str) -> DataFrame:
    """Serving read over the epoch-partitioned partials: fold per day,
    then the same closed form."""
    return sprt_monitor_from_state(_fold_days(spark.read.parquet(state_path)))


def compact_sprt_state(
    spark: SparkSession, state_path: str, checkpoint_path: str | None = None
) -> int:
    """Compact the sink's committed epoch partials into one ``epoch=-1``
    base row per day (streaming/compaction.py)."""
    return compact_epoch_partials(
        spark, state_path, _fold_days, ["epoch"], checkpoint_path
    )


def run_sprt_monitor_durable(
    spark: SparkSession,
    events_path: str,
    schema,
    state_path: str,
) -> DataFrame:
    """Drain available event files into the durable epoch-partitioned
    state (restartable: the checkpoint under ``state_path + '_ckpt'``
    makes a re-run process only NEW files), then serve the readout."""
    stream = spark.readStream.schema(schema).parquet(events_path)
    drain(stream, sprt_state_sink(state_path), state_path + "_ckpt")
    return sprt_monitor_from_partials(spark, state_path)


def run_sprt_monitor(
    spark: SparkSession,
    events_path: str,
    schema,
    query_name: str = "sprt_monitor_state",
) -> DataFrame:
    """Drain ``events_path`` with an availableNow stream, maintaining
    the day-state aggregation in complete mode, then apply the serving
    computation. Returns the monitor readout DataFrame."""
    stream = spark.readStream.schema(schema).parquet(events_path)
    run_available_now(sprt_daily_state(stream), query_name, "complete")
    return sprt_monitor_from_state(spark.table(query_name))
