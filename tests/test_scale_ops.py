"""Scale-path join strategies: salted joins must be result-identical
to plain joins; bucketed joins must be exchange-free by plan."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from databeats_spark.operators.scale import bucketed_join, salted_join, write_bucketed
from databeats_spark.sources.tables import load_tables
from tests.conftest import SF_SMOKE


def test_salted_join_matches_plain_join(spark):
    t = load_tables(spark, SF_SMOKE, ["orders", "customer"])
    plain = (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
    )
    salted = (
        salted_join(
            t.orders.withColumnRenamed("o_custkey", "custkey"),
            t.customer.withColumnRenamed("c_custkey", "custkey"),
            "custkey",
            salt_factor=4,
        )
        .groupBy(F.col("custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
    )
    a = plain.orderBy("c_custkey").toPandas()
    b = salted.orderBy("c_custkey").toPandas()
    assert a["c_custkey"].tolist() == b["c_custkey"].tolist()
    assert a["n"].tolist() == b["n"].tolist()
    assert (abs(a["s"] - b["s"]) < 1e-6).all()


def test_salted_join_left_keeps_unmatched(spark):
    rows = [(1, "hot")] * 50 + [(2, "cold"), (99, "orphan")]
    large = spark.createDataFrame(rows, ["k", "v"])
    small = spark.createDataFrame([(1, "dim1"), (2, "dim2")], ["k", "d"])
    out = salted_join(large, small, "k", salt_factor=4, how="left").toPandas()
    assert len(out) == 52
    assert out[out["k"] == 99]["d"].isna().all()


def test_bucketed_join_is_exchange_free(spark):
    # warehouse dir is static conf — set to /tmp by the session factory
    t = load_tables(spark, SF_SMOKE, ["orders", "customer"])
    write_bucketed(t.orders, "b_orders", "o_custkey", buckets=8)
    write_bucketed(
        t.customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", buckets=8
    )
    # disable broadcast so the join must pick a distribution strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_customer", "o_custkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert joined.count() == t.orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partitioned_running_total_matches_global_window(spark):
    from pyspark.sql import Window

    from databeats_spark.operators.scale import partitioned_running_total

    rows = [(i, (i * 37) % 101, float(i % 7 + 1)) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "key", "v"])
    naive = df.withColumn(
        "rt",
        F.sum("v").over(
            Window.orderBy("key", "id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # None = the r14 default: the range exchange is sized by
    # spark.sql.shuffle.partitions like every other shuffle in the
    # session (scale-adaptive), instead of the local core count
    for n_parts in (None, 1, 4, 32, 64):
        got = partitioned_running_total(
            df, order_by=[F.col("key"), F.col("id")], sums={"rt": "v"},
            num_partitions=n_parts,
        )
        a = naive.select("id", "rt").orderBy("id").toPandas()
        b = got.select("id", "rt").orderBy("id").toPandas()
        assert a.equals(b), f"mismatch at num_partitions={n_parts}"


def test_partitioned_running_total_carries_several_sums(spark):
    """Two ``sums`` entries ride one range pass and each equals its own
    single-sum run."""
    from databeats_spark.operators.scale import partitioned_running_total

    df = spark.createDataFrame(
        [(i, (i * 37) % 101, i % 7 + 1, i % 3) for i in range(500)], ["id", "key", "v", "w"]
    )
    order = [F.col("key"), F.col("id")]
    both = partitioned_running_total(df, order, {"rv": "v", "rw": "w"}, num_partitions=4)
    assert both.columns == ["id", "key", "v", "w", "rv", "rw"]
    for out, value in (("rv", "v"), ("rw", "w")):
        one = partitioned_running_total(df, order, {out: value}, num_partitions=4)
        a = one.select("id", out).orderBy("id").toPandas()
        b = both.select("id", out).orderBy("id").toPandas()
        assert a.equals(b), out


def test_partitioned_running_total_avoids_single_partition_window(spark):
    from databeats_spark.operators.scale import partitioned_running_total

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 13).alias("v")
    )
    out = partitioned_running_total(
        df, order_by=[F.col("id")], sums={"running_total": "v"}, num_partitions=16
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the big side's running sum must be a __pid-partitioned window —
    # a Window over the full input with no partition spec (required
    # distribution SinglePartition) is exactly the funnel this
    # operator exists to avoid
    assert "windowspecdefinition(__pid" in plan, plan
    # the only SinglePartition exchange feeds the per-partition
    # SUBTOTALS window (one row per partition), never the main data
    single = [
        block for block in plan.split("\n\n")
        if "SinglePartition" in block and "Exchange" in block
    ]
    assert len(single) == 1, plan
    assert "__sub" in single[0], f"SinglePartition exchange carries main data:\n{single[0]}"


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """A selective dim-side filter must inject a runtime bloom filter
    into the FACT side's scan condition (might_contain over the join
    key) so the big scan pre-prunes rows before the shuffle join — the
    row-level twin of partition pruning at 100 TB. Local sf files sit
    below the production size thresholds, so the test lowers them to
    make the optimizer see 'cluster-scale' relations; at real scale the
    DEFAULT thresholds (10 GB application-side scan) fire on their own.
    Broadcast is disabled because a broadcast join already ships the
    keys — the bloom filter is the SHUFFLE-join path's pruning tool."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = load_tables(spark, SF_SMOKE, ["orders", "lineitem"])
        sel = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            t.lineitem.join(sel, t.lineitem["l_orderkey"] == sel["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # the filter must guard the LINEITEM (fact) scan's key column
        cond = [l for l in plan.splitlines() if "might_contain" in l]
        assert any("l_orderkey" in l for l in cond), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_attach_global_scalar_materializes_base_once(spark):
    """The scalar crossJoin must not re-execute the shared aggregate:
    after execution the plan reads checkpointed blocks (ExistingRDD)
    and contains zero parquet re-scans; values match the naive form."""
    from databeats_spark.operators.scale import attach_global_scalar
    from tests.conftest import SF_CORRECT

    li = load_tables(spark, SF_CORRECT, ["lineitem"]).lineitem
    per = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("q"))
    out = attach_global_scalar(per, F.sum("q").alias("tq"), F.count(F.lit(1)).alias("n"))
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 0, plan
    assert "ExistingRDD" in plan

    naive = per.crossJoin(F.broadcast(per.agg(F.sum("q").alias("tq"), F.count(F.lit(1)).alias("n"))))
    assert sorted(map(tuple, rows)) == sorted(map(tuple, naive.collect()))


def _bloom_frames(spark):
    # history keys h0..h49; new = 30 fresh keys + 10 dups-of-history
    # (one repeated TWICE to pin bag semantics through the split)
    hist = spark.createDataFrame([(f"h{i}",) for i in range(50)], ["k"])
    new_rows = (
        [(f"n{i}", i) for i in range(30)]
        + [(f"h{i}", 100 + i) for i in range(10)]
        + [("n0", 999)]  # duplicate new row: must survive twice
    )
    new = spark.createDataFrame(new_rows, ["k", "payload"])
    return new, hist


def test_bloom_anti_join_is_result_identical_to_plain_anti(spark):
    """The bloom prefilter only routes rows; the exact join decides —
    the result must equal new.join(history, key, left_anti) exactly,
    duplicates included, at a realistic m and at the degenerate
    m_bits=64 where every key collides into one block (the exact
    verify join absorbs 100% false positives)."""
    from databeats_spark.operators.scale import bloom_anti_join

    new, hist = _bloom_frames(spark)
    want = sorted(map(tuple, new.join(hist, "k", "left_anti").collect()))
    for m in (1 << 14, 64):
        got = sorted(map(tuple, bloom_anti_join(new, hist, "k", m_bits=m).collect()))
        assert got == want, m
    assert len(want) == 31  # 30 fresh + the duplicated n0 twice


def test_bloom_probe_has_no_false_negatives_and_prunes(spark):
    """Every history-present key must probe positive (the correctness
    property the pass-through leans on); with a well-sized bitmap the
    fresh keys overwhelmingly probe negative (the pruning property:
    only the candidate slice ever reaches the exact join)."""
    from databeats_spark.operators.scale import bloom_bitmap, bloom_probe

    new, hist = _bloom_frames(spark)
    bm = bloom_bitmap(hist, "k", m_bits=1 << 14)
    probed = bloom_probe(new, bm, "k", m_bits=1 << 14).collect()
    hits = {(r["k"], r["payload"]): r["__bloom_hit"] for r in probed}
    for i in range(10):
        assert hits[(f"h{i}", 100 + i)] is True  # no false negatives
    fresh_hits = sum(1 for (k, _), h in hits.items() if k.startswith("n") and h)
    assert fresh_hits <= 2  # 31 fresh rows, m=16K bits for 50 keys
