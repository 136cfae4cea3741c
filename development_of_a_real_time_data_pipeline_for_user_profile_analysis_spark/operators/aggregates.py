"""The dashboard query workload, promoted to first-class Spark.

The reference computes all of these in single-threaded pandas inside
the Dash web process, re-scanning MongoDB every 10 s
(dashbord/dashbord.py:94-108). Here they are Spark aggregations over
the curated table — partial/final hash aggregation, top-k via
TakeOrderedAndProject, distributed from day one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import email_domain


def gender_distribution(profiles: DataFrame) -> DataFrame:
    """A1 — dashbord.py:98. Hash agg; map-side partial combine makes
    this a tiny shuffle of one row per (partition, gender)."""
    return profiles.groupBy("gender").agg(F.count(F.lit(1)).alias("count"))


def top_email_domains(profiles: DataFrame, k: int = 5) -> DataFrame:
    """A2 — dashbord.py:99-100 (tldextract + value_counts().head(5)).

    Domain extraction is a JVM regex, not per-row Python. orderBy +
    limit compiles to TakeOrderedAndProject: each partition keeps a
    k-row heap, the driver merges heaps — no global sort at any scale.
    Count-desc then domain-asc (NULLs last, the SQL default) makes
    rank-k ties deterministic.
    """
    return (
        profiles.select(email_domain(F.col("email")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last("domain"))
        .limit(k)
    )


def total_users(profiles: DataFrame) -> DataFrame:
    """A3 — dashbord.py:101 (len(df))."""
    return profiles.agg(F.count(F.lit(1)).alias("count"))


def age_ecdf(profiles: DataFrame) -> DataFrame:
    """A4/A5 — dashbord.py:104-109: sorted ages paired with 1..N.

    Built from the age histogram (:func:`ecdf_from_histogram`), so the
    only global ordering is over one row per distinct age, never over
    the raw rows."""
    return ecdf_from_histogram(
        profiles.groupBy("age").agg(F.count(F.lit(1)).alias("count"))
    )


def ecdf_from_histogram(hist: DataFrame) -> DataFrame:
    """``(age, cum_count)`` rows — one per input row — from an
    ``(age, count)`` histogram: a running sum over the ages, then each
    age expands to ``cum - count + 1 .. cum``.

    Tied rows share an age, so this is the same multiset as
    ``row_number() OVER (ORDER BY age)`` over the raw rows. NULL ages
    sort last, as in the SQL default the oracles use. The window spans
    one partition, but its input is one row per distinct age."""
    w = Window.orderBy(F.asc_nulls_last("age")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        hist.withColumn("cum", F.sum("count").over(w))
        .select(
            "age",
            F.explode(
                F.sequence(F.col("cum") - F.col("count") + 1, F.col("cum"))
            ).alias("cum_count"),
        )
    )


def similar_profiles(profiles: DataFrame) -> DataFrame:
    """Blocked profile-similarity self-join: candidate 'similar user'
    pairs share (email domain, age, gender). Blocking keys bound the
    pair explosion (the EDBT'24 profile-join pattern: equi-join on
    blocking keys, never a cross product)."""
    from ..functions.columns import email_domain

    keyed = profiles.select(
        "id",
        email_domain(F.col("email")).alias("domain"),
        "age",
        "gender",
    )
    a = keyed.select(
        F.col("id").alias("id_a"), "domain", "age", "gender"
    )
    b = keyed.select(
        F.col("id").alias("id_b"), "domain", "age", "gender"
    )
    return (
        a.join(b, ["domain", "age", "gender"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "domain", "age", "gender")
    )


def age_histogram(profiles: DataFrame) -> DataFrame:
    """Scalable form of the age-distribution view: one row per age.
    Cumulative counts come from a window over this ~80-row aggregate,
    not over the raw data (:func:`ecdf_from_histogram`)."""
    return (
        profiles.groupBy("age")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.asc_nulls_last("age"))
    )


def table_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column data-quality profile: row count, null count, exact
    distinct count, min/max (rendered as strings for a uniform
    schema). The curation counterpart of the reference's blind
    ``na.drop`` (Real_Time_Data.py:129): measure the damage before
    deciding what to drop.

    Plan shape: one narrow aggregate per column, unioned. Columnar
    parquet makes each branch a single-column pruned scan, so the k
    branches together read ~one table's worth of bytes and run in
    parallel — unlike a single `agg(countDistinct(c1), ..., 
    countDistinct(ck))`, which Catalyst plans as an Expand that
    multiplies every raw row k-fold before the shuffle.
    """
    cols = columns or df.columns
    profiles = [
        df.select(F.col(c).alias("v")).agg(
            F.lit(c).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.count_distinct(F.col("v")).alias("n_distinct"),
            F.min(F.col("v")).cast("string").alias("min_value"),
            F.max(F.col("v")).cast("string").alias("max_value"),
        )
        for c in cols
    ]
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out
