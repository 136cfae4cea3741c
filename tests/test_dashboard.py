from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    aggregates,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans import (
    registry,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans.dashboard import (
    refresh,
)
from perfbench.checks import DASHBOARD_ORACLES

VIEWS = {
    "gender_distribution": aggregates.gender_distribution,
    "top_email_domains": aggregates.top_email_domains,
    "total_users": aggregates.total_users,
    "age_ecdf": aggregates.age_ecdf,
    "age_histogram": aggregates.age_histogram,
}

# views whose row order is part of the contract
ORDERED = {"top_email_domains", "age_histogram"}

SCHEMA = StructType(
    [
        StructField("gender", StringType()),
        StructField("email", StringType()),
        StructField("age", IntegerType()),
    ]
)


def _emails(domain_counts: dict[str, int]) -> list[str]:
    return [f"u{i}@{d}.com" for d, n in domain_counts.items() for i in range(n)]


CASES = {
    "empty": [],
    # a NULL gender, a NULL age, and a NULL email whose NULL domain ties
    # for rank 5: it must sort after the named domains, as in SQL
    "nulls": [
        ("female", e, 30 + i % 3)
        for i, e in enumerate(_emails({"a": 3, "b": 2, "c": 1, "d": 1, "e": 1}))
    ]
    + [(None, "x@a.com", 41), ("male", None, 42), ("male", "y@b.com", None)],
    # no '@name.' in the address: the domain is the empty string
    "unmatched_email": [
        ("male", "not-an-email", 20),
        ("female", "also@nodot", 21),
        ("female", "z@q.com", 21),
    ],
    # ranks 5, 6 and 7 tie on count; domain order breaks the tie
    "tie_at_rank_5": [
        ("male" if i % 2 else "female", e, 18 + i % 7)
        for i, e in enumerate(
            _emails({"m": 5, "n": 4, "o": 3, "p": 2, "t": 1, "r": 1, "s": 1})
        )
    ],
}


def _rows(df, ordered: bool) -> list[tuple]:
    rows = [tuple(r) for r in df.collect()]
    return rows if ordered else sorted(rows, key=repr)


def _schema(df) -> list[tuple]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _duckdb(rows: list[tuple], name: str) -> list[tuple]:
    table = pa.table(
        {
            "gender": pa.array([r[0] for r in rows], pa.string()),
            "email": pa.array([r[1] for r in rows], pa.string()),
            "age": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    con = duckdb.connect()
    try:
        con.register("s", table)
        out = [tuple(r) for r in con.execute(DASHBOARD_ORACLES[name]).fetchall()]
    finally:
        con.close()
    return sorted(out, key=repr)


def _input(spark, sf_dir, case):
    if case == "sf0.001":
        rows = [
            tuple(r)
            for r in registry.profiles_df(spark, sf_dir)
            .select("gender", "email", "age")
            .collect()
        ]
    else:
        rows = CASES[case]
    return spark.createDataFrame(rows, SCHEMA), rows


def test_dashboard_refresh_consistency(spark, sf_dir):
    profiles = registry.profiles_df(spark, sf_dir)
    views = refresh(profiles)
    total = views["total_users"].collect()[0]["count"]
    assert total == profiles.count()
    assert sum(r["count"] for r in views["gender_distribution"].collect()) == total
    assert sum(r["count"] for r in views["age_histogram"].collect()) == total
    ecdf = views["age_ecdf"].collect()
    assert len(ecdf) == total and ecdf[-1].cum_count == total
    assert len(views["top_email_domains"].collect()) == 5
    for df in views.values():
        df.unpersist()


@pytest.mark.parametrize("case", ["sf0.001", *CASES])
def test_refresh_views_match_aggregates_and_duckdb(spark, sf_dir, case):
    """Every refresh view equals its per-view ``aggregates`` function
    (rows in order, and schema) and the benchmark's DuckDB oracle over
    the same rows (as a multiset)."""
    profiles, rows = _input(spark, sf_dir, case)
    views = refresh(profiles)
    try:
        assert set(VIEWS) <= set(views)
        for name, fn in VIEWS.items():
            ordered = name in ORDERED
            got = _rows(views[name], ordered)
            want = fn(profiles)
            assert _schema(views[name]) == _schema(want), name
            assert got == _rows(want, ordered), name
            assert sorted(got, key=repr) == _duckdb(rows, name), name
        if case == "empty":
            assert _rows(views["total_users"], True) == [(0,)]
    finally:
        for df in views.values():
            df.unpersist()


def test_refresh_cache_release_and_job_count(spark, sf_dir, tmp_path):
    """Chained polls hold at most one refresh's cache, the returned dict
    releases all of it, and one refresh runs a handful of jobs."""
    path = str(tmp_path / "profiles")
    registry.profiles_df(spark, sf_dir).write.parquet(path)
    sc = spark.sparkContext
    persistent = lambda: len(sc._jsc.getPersistentRDDs())  # noqa: E731
    baseline = persistent()
    views = None
    for _ in range(3):
        views = refresh(spark.read.parquet(path), views)
        assert persistent() <= baseline + 1
    for df in views.values():
        df.unpersist()
    assert persistent() == baseline

    group = "test_dashboard_refresh_jobs"
    sc.setJobGroup(group, "one dashboard refresh")
    try:
        views = refresh(spark.read.parquet(path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    try:
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
    finally:
        for df in views.values():
            df.unpersist()
