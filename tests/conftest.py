"""Shared pytest fixtures: one SparkSession per test run, plus a DuckDB
oracle harness that mirrors the driver's correctness gate (row count +
schema + order-insensitive value comparison on name-sorted columns).
"""

from __future__ import annotations

import math
import sys
from datetime import datetime
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SMOKE_SF = "/root/testdata/sf0.001"
CORRECTNESS_SF = "/root/testdata/sf0.01"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from hazelcast_jet_contrib_spark import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def compare_with_oracle(
    spark, name: str, sf_dir: str = CORRECTNESS_SF, queries=None, oracles=None
):
    """Run registered query `name` on Spark and its oracle on DuckDB over
    the same parquet; assert row count, column names, and multiset of
    normalized rows (columns sorted by name) are identical. Pass
    `queries`/`oracles` to check a non-default dict (e.g. the retired
    registry)."""
    from hazelcast_jet_contrib_spark.registry import ORACLES, QUERIES

    if queries is None:
        queries, oracles = QUERIES, ORACLES
    sdf = queries[name](spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [
        tuple(_norm(row[c]) for c in spark_cols) for row in sdf.collect()
    ]

    con = duck_con(sf_dir)
    res = con.execute(oracles[name])
    duck_cols_raw = [d[0] for d in res.description]
    duck_cols = sorted(duck_cols_raw)
    idx = [duck_cols_raw.index(c) for c in duck_cols]
    duck_rows = [tuple(_norm(r[i]) for i in idx) for r in res.fetchall()]

    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    assert sorted(spark_rows, key=repr) == sorted(duck_rows, key=repr), (
        f"{name}: value mismatch (first spark rows: {sorted(spark_rows, key=repr)[:3]} "
        f"vs oracle: {sorted(duck_rows, key=repr)[:3]})"
    )


def spark_jobs(spark, fn):
    """``(fn(), the number of Spark jobs fn ran)``, counted under a job
    group of its own."""
    import uuid

    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: full-volume fault-tolerance workloads (reference's largest test shapes)",
    )
    config.addinivalue_line(
        "markers",
        "live: needs a live backing service + its client library — the "
        "reference's testIntegration/NightlyTest split (build.gradle:96-108); "
        "docker-compose + env recipe in docs/LIVE_TIER.md; run with "
        "`pytest -m live`",
    )
