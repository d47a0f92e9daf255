"""Generated code is compiled once per JVM, not once per click.

Spark's generated-class cache is a JVM-wide LRU whose size is read
once, by whichever session first generates code in the JVM. In this
pytest process that may not be a ``get_spark`` session, so the check
runs in a fresh interpreter (this file run as a script): a
``get_spark`` session at the bench policy, one round of the 14
headliners at sf0.001, then a second round in reverse order. Only a
query whose executed plan holds a whole-stage-codegen'd LIMIT may
compile again (its row counter is named from a JVM-global sequence,
so its source differs per plan), and that exception is read from each
plan, not from a list of names."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _two_rounds() -> dict:
    from databeats_spark.plans.instrument import codegen_compiles, codegen_limit, observe
    from databeats_spark.registry import bench_queries
    from databeats_spark.session import get_spark
    from tests.conftest import SF_SMOKE

    spark = get_spark(
        app_name="codegen_cache_test", master="local[2]", shuffle_partitions=4, adaptive=False
    )
    qs = bench_queries()
    rounds = []
    for names in (list(qs), list(qs)[::-1]):
        rec = {}
        for n in names:
            before = codegen_compiles(spark)
            with observe() as taken:  # a limit may sit in a checkpointed sub-plan
                df = qs[n](spark, SF_SMOKE)
                df.toPandas()
            rec[n] = {
                "compiles": codegen_compiles(spark) - before,
                "limit": codegen_limit(df) or any(codegen_limit(src) for src, _, _ in taken),
            }
        rounds.append(rec)
    size = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    spark.stop()
    return {"size": size, "rounds": rounds}


def test_second_headline_round_compiles_only_codegen_limits(tmp_path):
    env = {
        **os.environ,
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": str(tmp_path / "local"),
        "SPARK_WAREHOUSE_DIR": str(tmp_path / "warehouse"),
    }
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    cold, warm = out["rounds"]
    assert len(cold) == 14 and set(warm) == set(cold)
    assert sum(r["compiles"] for r in cold.values()) < out["size"], out
    limit_free = {n for n, r in warm.items() if not r["limit"]}
    assert len(limit_free) >= 10, out  # the exception stays the exception
    recompiled = {n: warm[n]["compiles"] for n in limit_free if warm[n]["compiles"]}
    assert not recompiled, f"limit-free headliners compiled again: {recompiled}"


if __name__ == "__main__":
    sys.path.insert(0, _REPO)
    print(json.dumps(_two_rounds()))
