"""Output checks, run outside every timed call.

Each check returns the number of wrong rows or results it found, so
the workload can count them into ``failed``. The row-level comparisons
reuse ``canon``/``table_hash`` from tools/oracle_check.py, the repo's
own oracle gate, so both gates agree on what "equal" means.
"""

from __future__ import annotations

import glob
import importlib.util
import os
from collections import Counter

import duckdb
import pyarrow as pa

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.functions.columns import (
    EMAIL_DOMAIN_RE,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.synthetic import (
    profiles_oracle_cte,
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_oracle_check():
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(_ROOT, "tools", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_oc = _load_oracle_check()
canon, table_hash = _oc.canon, _oc.table_hash

PROFILE_COLS = [
    "id", "username", "gender", "title", "age", "email",
    "inscription", "full_name", "full_address",
]


def row_diff(cols_a, rows_a, cols_b, rows_b) -> int:
    """Rows in one multiset but not the other (0 when equal). The
    order-insensitive hash decides equality; the diff only sizes a
    mismatch."""
    if sorted(cols_a) != sorted(cols_b):
        return max(len(rows_a), len(rows_b), 1)
    if len(rows_a) == len(rows_b) and table_hash(cols_a, rows_a) == table_hash(
        cols_b, rows_b
    ):
        return 0

    def keyed(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return Counter("|".join(canon(r[i]) for i in order) for r in rows)

    a, b = keyed(cols_a, rows_a), keyed(cols_b, rows_b)
    return max(sum((a - b).values()) + sum((b - a).values()), 1)


def _sink_glob(sink_dir: str) -> str:
    return os.path.join(sink_dir, "batch_id=*", "*.parquet")


def _has_files(sink_dir: str) -> bool:
    return bool(glob.glob(_sink_glob(sink_dir)))


def check_ingest(
    good_keys: list[int],
    malformed: list[str],
    sink_dirs: list[str],
    dead_letter_dir: str,
) -> dict[str, int]:
    """Every profile sink against DuckDB over the same derivation
    (``synthetic.profiles_oracle_cte``) of the well-formed keys; the
    dead-letter sink against the injected malformed lines; and no id
    twice across ``batch_id=`` directories."""
    con = duckdb.connect()
    try:
        con.register("keys", pa.table({"k": pa.array(good_keys, pa.int64())}))
        cols = ", ".join(PROFILE_COLS)
        res = con.execute(
            f"WITH {profiles_oracle_cte('SELECT k FROM keys')} SELECT {cols} FROM profiles"
        )
        want = res.fetchall()
        wrong: dict[str, int] = {}
        for d in sink_dirs:
            name = os.path.basename(d.rstrip("/"))
            if not _has_files(d):
                wrong[name] = max(len(want), 1)
                continue
            got = con.execute(
                f"SELECT {cols} FROM read_parquet('{_sink_glob(d)}')"
            ).fetchall()
            wrong[name] = row_diff(PROFILE_COLS, got, PROFILE_COLS, want)
            wrong[f"{name}_dup_ids"] = con.execute(
                f"SELECT count(*) - count(DISTINCT id) FROM read_parquet('{_sink_glob(d)}')"
            ).fetchone()[0]
        if _has_files(dead_letter_dir):
            dead = con.execute(
                f"SELECT _corrupt_record FROM read_parquet('{_sink_glob(dead_letter_dir)}')"
            ).fetchall()
        else:
            dead = []
        wrong["dead_letter"] = row_diff(
            ["_corrupt_record"], dead, ["_corrupt_record"], [(m,) for m in malformed]
        )
        return wrong
    finally:
        con.close()


DASHBOARD_ORACLES = {
    "gender_distribution": "SELECT gender, count(*) AS count FROM s GROUP BY gender",
    "top_email_domains": (
        f"SELECT regexp_extract(email, '{EMAIL_DOMAIN_RE}', 1) AS domain, "
        "count(*) AS count FROM s GROUP BY domain "
        "ORDER BY count DESC, domain ASC LIMIT 5"
    ),
    "total_users": "SELECT count(*) AS count FROM s",
    # ties share an age, so (age, cum_count) pairs are order-free
    "age_ecdf": "SELECT age, row_number() OVER (ORDER BY age) AS cum_count FROM s",
    "age_histogram": "SELECT age, count(*) AS count FROM s GROUP BY age",
}


def check_dashboard(views: dict, serving_dir: str) -> dict[str, int]:
    """The refreshed views against DuckDB over the serving rows."""
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW s AS SELECT * FROM read_parquet('{_sink_glob(serving_dir)}')"
        )
        wrong = {}
        for name, sql in DASHBOARD_ORACLES.items():
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            df = views.get(name)
            if df is None:
                wrong[name] = 1
                continue
            wrong[name] = int(
                row_diff(df.columns, [tuple(r) for r in df.collect()], dcols, drows) > 0
            )
        return wrong
    finally:
        con.close()


class RegistryOracle:
    """``plans.ORACLES`` over the benchmark's generated corpus."""

    def __init__(self, sf_dir: str):
        self._con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def wrong(self, oracle_sql: str, cols: list, rows: list) -> bool:
        res = self._con.execute(oracle_sql)
        return row_diff(cols, rows, [d[0] for d in res.description], res.fetchall()) > 0

    def close(self) -> None:
        self._con.close()
