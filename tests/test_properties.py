"""Property tests (SURVEY §5): algebraic invariants of the operator
library under generated data. Spark jobs are slow per example, so each
property draws a handful of randomized frames (hypothesis with a tight
example budget + no deadline) rather than hundreds."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from databeats_spark.operators.dedup import dedup_first
from databeats_spark.operators.windows import streak_ending_at_latest, top_k_per_group

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.integers(min_value=0, max_value=100), # value
        st.integers(min_value=0, max_value=9),   # seq
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_dedup_first_is_idempotent_and_deterministic(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v", "s"]))
    once = dedup_first(df, ["k"], [F.col("v").desc(), "s"])
    twice = dedup_first(once, ["k"], [F.col("v").desc(), "s"])
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b  # idempotent
    # exactly one row per key, and it is the (max v, min s) row
    pdf = pd.DataFrame(rows, columns=["k", "v", "s"])
    expected = {
        k: (g.sort_values(["v", "s"], ascending=[False, True]).iloc[0]["v"],)
        for k, g in pdf.groupby("k")
    }
    got = {r["k"]: (r["v"],) for r in once.collect()}
    assert got == expected


@given(rows=rows_strategy, threshold=st.integers(min_value=0, max_value=100))
@settings(**SETTINGS)
def test_filter_union_commute(spark, rows, threshold):
    pdf = pd.DataFrame(rows, columns=["k", "v", "s"])
    half = len(pdf) // 2
    a, b = pdf.iloc[:half], pdf.iloc[half:]
    if len(a) == 0 or len(b) == 0:
        return
    da, db = spark.createDataFrame(a), spark.createDataFrame(b)
    pred = F.col("v") >= threshold
    union_then_filter = da.unionByName(db).filter(pred)
    filter_then_union = da.filter(pred).unionByName(db.filter(pred))
    assert sorted(map(tuple, union_then_filter.collect())) == sorted(
        map(tuple, filter_then_union.collect())
    )


@given(rows=rows_strategy, k=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_top_k_per_group_bounds(spark, rows, k):
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v", "s"]))
    out = top_k_per_group(df, ["k"], [F.col("v").desc(), "s"], k).toPandas()
    counts = out.groupby("k").size()
    assert (counts <= k).all()
    # every group with >= k rows yields exactly k
    pdf = pd.DataFrame(rows, columns=["k", "v", "s"])
    for key, g in pdf.groupby("k"):
        assert counts.get(key, 0) == min(k, len(g))


@given(
    periods=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=12, unique=True)
)
@settings(**SETTINGS)
def test_streak_bounds_and_latest_rule(spark, periods):
    # one entity on-chart in an arbitrary period set
    df = spark.createDataFrame(pd.DataFrame({"e": ["x"] * len(periods), "p": sorted(periods)}))
    out = streak_ending_at_latest(df, "e", "p").collect()
    # the entity's newest island always reaches the global latest (it is
    # the only entity) → exactly one row, streak = trailing consecutive run
    assert len(out) == 1
    streak = out[0]["streak"]
    ps = sorted(periods)
    run = 1
    for a, b in zip(reversed(ps[:-1]), reversed(ps[1:])):
        if b - a == 1:
            run += 1
        else:
            break
    assert streak == run
    assert 1 <= streak <= len(periods)


def test_approx_percentile_within_bound(spark):
    from databeats_spark.registry import queries
    from tests.conftest import SF_CORRECT

    pdf = queries()["approx_price_quantiles"](spark, SF_CORRECT).toPandas()
    assert len(pdf) > 0
    for _, r in pdf.iterrows():
        for q in ("p50", "p90"):
            exact, approx = r[f"exact_{q}"], r[f"approx_{q}"]
            assert abs(approx - exact) <= 0.02 * abs(exact) + 1e-9, (q, exact, approx)


def test_exposure_cap_invariants(spark):
    """exposure_cap keeps >=1 and <=K rows per fingerprint group, keeps
    exactly dedup_exact's canonical doc as copy 1, and is invariant to
    input partitioning."""
    from databeats_spark.registry import queries
    from tests.conftest import SF_SMOKE

    out = queries()["exposure_cap"](spark, SF_SMOKE).toPandas()
    per_fp = out.groupby("fp")["copy_idx"].agg(["min", "max", "count"])
    assert (per_fp["min"] == 1).all()
    assert (per_fp["max"] <= 2).all()
    assert (per_fp["count"] == per_fp["max"]).all()
    # copy 1 of each group is the min doc_id — dedup_exact's keep rule
    firsts = out[out.copy_idx == 1].groupby("fp")["doc_id"].first()
    mins = out.groupby("fp")["doc_id"].min()
    assert firsts.equals(mins)


def test_interleave_layout_positions_are_unique_and_stable(spark):
    """Interleave positions are collision-free (a loader can sort by
    pos) and identical across partitioning layouts (determinism)."""
    from databeats_spark.registry import queries
    from tests.conftest import SF_SMOKE

    build = queries()["interleave_layout"]
    out = build(spark, SF_SMOKE).toPandas()
    assert out["pos"].is_unique
    # per-source ranks are dense 1..n
    dense = out.groupby("source")["r"].agg(["min", "max", "count"])
    assert (dense["min"] == 1).all()
    assert (dense["max"] == dense["count"]).all()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = build(spark, SF_SMOKE).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert out.equals(again)


def test_stratified_split_ratios_are_exact(spark):
    """The integer-threshold split is exactly floor-proportional per
    stratum: train = floor(0.8n) and train+val = floor(0.9n)."""
    from databeats_spark.registry import queries
    from tests.conftest import SF_SMOKE

    out = queries()["stratified_split_counts"](spark, SF_SMOKE).toPandas()
    by = out.pivot_table(index="lang", columns="split", values="n_docs", fill_value=0)
    n = by.sum(axis=1)
    assert (by.get("train", 0) == (n * 8) // 10).all()
    assert (by.get("train", 0) + by.get("val", 0) == (n * 9) // 10).all()


def test_hll_estimate_within_relative_error(spark):
    """The HLL sketch estimate must sit within the standard relative
    error of lgK=12 (~1.6%, gated at 5%) of the exact distinct count
    for every day."""
    from databeats_spark.registry import queries
    from tests.conftest import SF_CORRECT

    out = queries()["hll_distinct_users"](spark, SF_CORRECT).toPandas()
    assert len(out) > 0
    rel = (out["est_users"] - out["exact_users"]).abs() / out["exact_users"]
    assert (rel <= 0.05).all(), out[rel > 0.05]


def test_cms_never_undercounts_and_recalls_heavy_hitters(spark):
    """Count-min's one-sided error, end to end: est >= exact on every
    output row, and every TRUE heavy hitter (exact count >= threshold)
    appears in the output — structural recall, since est >= exact means
    exact >= T implies est >= T. Overcounts stay within the standard
    eps*N bound (eps = e/CMS_W, Cormode & Muthukrishnan 2005) with 4x
    slack; the data and hash family are deterministic, so this is a
    fixed outcome, not a flaky probabilistic gate."""
    import math

    from pyspark.sql import functions as F

    from databeats_spark.registry import queries
    from databeats_spark.registry.modern import CMS_PHI_DIV, CMS_W
    from databeats_spark.sources.tables import load_tables
    from tests.conftest import SF_CORRECT

    out = queries()["cms_heavy_hitters"](spark, SF_CORRECT).toPandas()
    assert len(out) > 0
    assert (out["est_count"] >= out["exact_count"]).all()
    assert (out["overcount"] >= 0).all()

    t = load_tables(spark, SF_CORRECT, ["documents"])
    tf = (
        t.documents
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
        .groupBy("term")
        .count()
    )
    n_total = tf.agg(F.sum("count")).collect()[0][0]
    thresh = n_total // CMS_PHI_DIV
    true_heavy = {r["term"] for r in tf.filter(F.col("count") >= thresh).collect()}
    assert true_heavy <= set(out["term"])
    assert (out["overcount"] <= math.e * n_total / CMS_W * 4).all()


@given(
    run_len=st.integers(min_value=8, max_value=20),
    offset_a=st.integers(min_value=0, max_value=11),
    offset_b=st.integers(min_value=0, max_value=11),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_substring_dedup_is_shift_invariant(spark, tmp_path_factory, run_len, offset_a, offset_b):
    """The reason substring_dup_spans exists: a duplicated run of ANY
    length >= 8 tokens at ANY pair of offsets is found with its exact
    length. Filler vocabularies are disjoint per doc and from the run,
    so the planted run is the only cross-doc overlap."""
    from databeats_spark.registry.corpus import _substring_dup_spans

    run = [f"r{i}" for i in range(run_len)]
    doc_a = " ".join([f"a{i}" for i in range(offset_a)] + run + [f"x{i}" for i in range(9)])
    doc_b = " ".join([f"b{i}" for i in range(offset_b)] + run + [f"y{i}" for i in range(9)])
    sf_dir = str(tmp_path_factory.mktemp("sfx"))
    spark.createDataFrame(
        [(1, doc_a, "s", 1), (2, doc_b, "s", 1)],
        "doc_id bigint, text string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    got = _substring_dup_spans(spark, sf_dir).toPandas()
    assert len(got) == 1
    assert int(got.iloc[0]["max_span_tokens"]) == run_len


@given(
    hist_keys=st.sets(st.integers(min_value=0, max_value=60), max_size=25),
    new_keys=st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=30),
    m_bits=st.sampled_from([64, 256, 1 << 12]),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_bloom_anti_join_identity_under_random_overlap(spark, hist_keys, new_keys, m_bits):
    """bloom_anti_join must equal the plain left_anti join for ANY
    history/new overlap, duplicate multiplicity, and bitmap size —
    including m_bits=64 where every position collides into one block.
    The sketch routes rows; the exact join decides."""
    from databeats_spark.operators.scale import bloom_anti_join

    hist = spark.createDataFrame([(str(k),) for k in sorted(hist_keys)] or [("__none__",)], ["k"])
    new = spark.createDataFrame([(str(k), i) for i, k in enumerate(new_keys)], ["k", "payload"])
    want = sorted(map(tuple, new.join(hist, "k", "left_anti").collect()))
    got = sorted(map(tuple, bloom_anti_join(new, hist, "k", m_bits=m_bits).collect()))
    assert got == want
