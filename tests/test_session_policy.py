"""Data-sized adaptive-execution policy (VERDICT r11 item 1).

At tiny scale every AQE query-stage materialization is a separate
driver job round-trip (measured at sf0.1: headline 14 = 75 jobs / 140
stages with AQE on vs 37 / 85 off, on byte-identical movement), so
bench.py sizes the policy to the data exactly like
shuffle_partitions_for. Two properties must hold: the threshold picks
the right posture per scale, and the per-load correctness-conf
re-application can never silently flip the caller's choice back (the
original RUNTIME_CONFS did, which would make the policy a no-op).
"""

from __future__ import annotations

import os

from bench import adaptive_for, shuffle_partitions_for
from databeats_spark.session import (
    ADAPTIVE_CONFS, CODEGEN_CACHE_ENTRIES, RUNTIME_CONFS, apply_runtime_confs,
    default_driver_memory,
)


def test_adaptive_off_below_data_floor_on_above(tmp_path):
    assert adaptive_for("/root/testdata/sf0.1") is False
    assert adaptive_for("/root/testdata/sf0.01") is False
    big = tmp_path / "big.parquet"  # sparse: size without disk cost
    with open(big, "wb") as f:
        f.truncate(600 << 20)
    assert adaptive_for(str(tmp_path)) is True


def test_partition_floor_matches_no_aqe_regime(tmp_path, monkeypatch):
    """The sub-512MB (no-AQE) regime runs at the measured floor of 4
    partitions (r13 A/B: floor 8's extra tiny tasks cost ~1.5 cpu-s
    with nothing to coalesce them away; floor 2 serializes the
    scan-parallel queries). Above the adaptive threshold the ~32 MB/
    partition data term takes over, so AQE coalescing — not the
    floor — owns the task count there, up to the 2x-cores cap. The
    core count is pinned: the result must not depend on the host."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert shuffle_partitions_for("/root/testdata/sf0.1") == 4
    assert shuffle_partitions_for("/root/testdata/sf0.01") == 4
    big = tmp_path / "big.parquet"
    with open(big, "wb") as f:
        f.truncate(600 << 20)  # just past the adaptive_for threshold
    assert shuffle_partitions_for(str(tmp_path)) >= 17  # 600MB/32MB + 1
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert shuffle_partitions_for(str(tmp_path)) == 8  # clamped to 2x cores


def test_apply_runtime_confs_does_not_override_adaptive_choice(spark):
    """Every loader calls apply_runtime_confs; it must re-assert only
    the CORRECTNESS confs (nanos read, UTC) and leave the session's
    adaptive policy alone — a bench session that disabled AQE for tiny
    inputs keeps that choice across load_tables calls."""
    assert "spark.sql.adaptive.enabled" not in RUNTIME_CONFS
    assert ADAPTIVE_CONFS["spark.sql.adaptive.enabled"] == "true"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_driver_memory_default_fits_the_host(tmp_path):
    """Without SPARK_DRIVER_MEMORY the driver heap is min(16g, half of
    MemTotal): a 15.7 GiB host gets ~7.8 GiB, a large host keeps 16g,
    and an unreadable meminfo falls back to 16g."""
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16464680 kB\nMemFree:         9000000 kB\n")
    assert default_driver_memory(str(meminfo)) == "8039m"
    meminfo.write_text("MemTotal:       263921284 kB\n")
    assert default_driver_memory(str(meminfo)) == "16g"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"


def test_codegen_cache_is_set_on_the_session(spark):
    """get_spark sets Spark's generated-class cache above the default
    100 (below one headline round), and the static conf is visible on
    the session it built."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert CODEGEN_CACHE_ENTRIES > 100
