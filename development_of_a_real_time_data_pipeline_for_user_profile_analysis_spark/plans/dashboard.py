"""Dashboard serving layer — the reference Dash app's data needs
(dashbord/dashbord.py:85-121) computed engine-side.

The reference re-scans all of MongoDB and recomputes its pandas
aggregates every 10 s poll. Here one ``refresh`` call makes one
grouping-sets pass over the curated table, caches that small
aggregate, and derives all five views from it as lazy DataFrames; the
UI reads the five results. (In production the stream itself
maintains these incrementally — streaming/pipeline.py
``streaming_gender_counts`` — and the dashboard reads pre-aggregated
state instead of triggering compute at all.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import email_domain
from ..operators import aggregates

# grouping_id() of each grouping set over (gender, domain, age): one
# bit per column left out of the set, gender the highest
_GENDER, _DOMAIN, _AGE, _ALL = 0b011, 0b101, 0b110, 0b111


def refresh(
    profiles: DataFrame, previous: dict[str, DataFrame] | None = None
) -> dict[str, DataFrame]:
    """One scan, five views: ``gender_distribution``,
    ``top_email_domains``, ``total_users``, ``age_ecdf`` and
    ``age_histogram``, each with the schema of the same-named function
    in :mod:`operators.aggregates`.

    A single ``groupingSets([[gender], [domain], [age], []])`` count
    over ``profiles`` is coalesced to one partition and persisted;
    each view is a lazy ``grouping_id`` filter of that cached
    aggregate, so reading a view touches only that one cached
    partition and never rescans ``profiles``.

    Release contract: the returned dict also holds the cached
    aggregate under ``_base``, so calling ``.unpersist()`` on every
    value releases everything this call cached. Pass the prior poll's
    dict as ``previous`` and that is done first, so the dashboard's
    repeated-poll pattern holds one refresh's aggregate in the cache.
    A view read after its release recomputes from ``profiles``."""
    if previous:
        for df in previous.values():
            df.unpersist()
    base = (
        profiles.select(
            "gender", email_domain(F.col("email")).alias("domain"), "age"
        )
        .groupingSets(
            [["gender"], ["domain"], ["age"], []], "gender", "domain", "age"
        )
        .agg(F.count(F.lit(1)).alias("count"), F.grouping_id().alias("gid"))
        .coalesce(1)
        .persist()
    )
    base.count()

    def rows(gid: int, *cols: str) -> DataFrame:
        return base.filter(F.col("gid") == gid).select(*cols, "count")

    hist = rows(_AGE, "age")
    return {
        "gender_distribution": rows(_GENDER, "gender"),
        "top_email_domains": rows(_DOMAIN, "domain")
        .orderBy(F.desc("count"), F.asc_nulls_last("domain"))
        .limit(5),
        "total_users": rows(_ALL).agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("count")
        ),
        "age_ecdf": aggregates.ecdf_from_histogram(hist),
        "age_histogram": hist.orderBy(F.asc_nulls_last("age")),
        "_base": base,
    }
