"""Output checks: order-insensitive content digests and the DuckDB
reference queries for the analyst views.

A digest canonicalizes every column to text (timestamps as local wall
clock in the session timezone, dates as ISO dates, doubles rounded to 6
places, lists joined) and sums a 64-bit hash per row, so two engines
that return the same multiset of rows in any order and with any integer
width produce the same digest.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os

TZ_NAME = "Asia/Ho_Chi_Minh"
NULL = "\x00"


def _canon_column(col):
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_dictionary(t):
        col, t = col.cast(t.value_type), t.value_type
    if pa.types.is_timestamp(t):
        if t.tz is not None:
            col = pc.local_timestamp(col.cast(pa.timestamp("us", tz=TZ_NAME)))
        return col.cast(pa.timestamp("us")).cast(pa.string()).to_pylist()
    if pa.types.is_floating(t):
        return pc.round(col, 6).cast(pa.string()).to_pylist()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [None if v is None else "\x1f".join(map(str, v)) for v in col.to_pylist()]
    return col.cast(pa.string()).to_pylist()


def table_digest(tbl) -> str:
    """``"<rows>:<hex>"`` — order-insensitive digest of an Arrow table."""
    import numpy as np
    import pandas as pd

    if tbl.num_rows == 0:
        return "0:0"
    frame = pd.DataFrame(
        {i: _canon_column(c) for i, c in enumerate(tbl.columns)}
    ).fillna(NULL)
    row_hashes = pd.util.hash_pandas_object(frame, index=False).to_numpy(np.uint64)
    with np.errstate(over="ignore"):
        total = int(row_hashes.sum(dtype=np.uint64))
    return f"{tbl.num_rows}:{total:016x}"


def read_live_table(lake, table: str):
    """Arrow table of a lake table's current version (no Spark job)."""
    import pyarrow.dataset as ds

    path = lake.path(table)
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def live_files(lake, table: str) -> list[str]:
    path = lake.path(table)
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True) if path else []


def live_rows(lake, table: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in live_files(lake, table))


def live_bytes(lake, tables) -> int:
    return sum(os.path.getsize(f) for t in tables for f in live_files(lake, t))


def lake_digest(lake, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        h.update(f"{t}={table_digest(read_live_table(lake, t))};".encode())
    return h.hexdigest()[:32]


# ---------------------------------------------------------------------------
# DuckDB reference queries for plans.views, over the same lake parquet
# ---------------------------------------------------------------------------
def _local_midnight(d: dt.date) -> str:
    return f"CAST(TIMESTAMP '{d.isoformat()} 00:00:00' AS TIMESTAMPTZ)"


def duckdb_view_sql(run_date: dt.date) -> dict[str, str]:
    """The 8 views in DuckDB SQL. Spark's ``DATE_TRUNC`` returns a
    timestamp and Spark compares a date with a timestamp at local
    midnight; both are spelled out here."""
    salary_filter = f"""
        SELECT DISTINCT
            j.job_id, j.title_clean, c.company_name_standardized,
            f.salary_min, f.salary_max, f.due_date, f.posted_time,
            f.time_remaining, j.job_url, j.skills,
            l.province, l.city, l.district
        FROM FactJobPostingDaily f
        INNER JOIN DimJob j ON f.job_sk = j.job_sk
        INNER JOIN DimCompany c ON f.company_sk = c.company_sk
        LEFT JOIN FactJobLocationBridge b ON f.fact_id = b.fact_id
        LEFT JOIN DimLocation l ON b.location_sk = l.location_sk
        WHERE j.is_current = TRUE AND c.is_current = TRUE
          AND (l.is_current = TRUE OR l.is_current IS NULL)
          AND f.salary_min >= 10.00 AND f.salary_max <= 20.00
          AND f.due_date >= {_local_midnight(run_date)}
          AND f.salary_min IS NOT NULL AND f.salary_max IS NOT NULL"""
    return {
        "vw_current_jobs": """
            SELECT j.*, c.company_name_standardized, c.verified_employer
            FROM DimJob j
            JOIN FactJobPostingDaily f ON j.job_sk = f.job_sk
            JOIN DimCompany c ON f.company_sk = c.company_sk
            WHERE j.is_current = TRUE AND c.is_current = TRUE""",
        "vw_job_locations": """
            SELECT f.fact_id, f.job_sk, f.date_id, l.province, l.city, l.district
            FROM FactJobPostingDaily f
            JOIN FactJobLocationBridge b ON f.fact_id = b.fact_id
            JOIN DimLocation l ON b.location_sk = l.location_sk
            WHERE l.is_current = TRUE""",
        "vw_monthly_jobs": """
            SELECT f.load_month,
                   CAST(DATE_TRUNC('month', f.date_id) AS TIMESTAMP) AS month,
                   COUNT(DISTINCT f.job_sk), COUNT(DISTINCT f.company_sk),
                   AVG(f.salary_min), AVG(f.salary_max)
            FROM FactJobPostingDaily f
            GROUP BY f.load_month, DATE_TRUNC('month', f.date_id)""",
        "vw_monthly_jobs_sets": """
            WITH f AS (
                SELECT load_month, CAST(DATE_TRUNC('month', date_id) AS DATE) AS month,
                       job_sk, company_sk, salary_min, salary_max
                FROM FactJobPostingDaily)
            SELECT load_month, month, CAST(GROUPING_ID(load_month, month) AS INT),
                   COUNT(DISTINCT job_sk), COUNT(DISTINCT company_sk),
                   ROUND(AVG(salary_min), 2), ROUND(AVG(salary_max), 2)
            FROM f GROUP BY GROUPING SETS ((load_month, month), (load_month), ())""",
        "vw_top_companies": """
            SELECT c.company_name_standardized, c.verified_employer,
                   COUNT(DISTINCT f.job_sk)
            FROM DimCompany c
            JOIN FactJobPostingDaily f ON c.company_sk = f.company_sk
            WHERE c.is_current = TRUE
            GROUP BY c.company_name_standardized, c.verified_employer""",
        "vw_top_locations": """
            SELECT COALESCE(l.province, 'Unknown'), l.city, COUNT(DISTINCT f.job_sk)
            FROM DimLocation l
            JOIN FactJobLocationBridge b ON l.location_sk = b.location_sk
            JOIN FactJobPostingDaily f ON b.fact_id = f.fact_id
            WHERE l.is_current = TRUE
            GROUP BY l.province, l.city""",
        "vw_job_salary_filter": salary_filter,
        # without the LIMIT: the Spark top-10 is checked against this
        # ordered superset, because rows tied on due_date may be cut
        # either way
        "vw_top10_hn": f"""
            SELECT job_id, title_clean, company_name_standardized,
                   salary_min, salary_max, due_date, time_remaining, posted_time,
                   job_url, skills, city, province,
                   datediff('day', DATE '{run_date.isoformat()}', CAST(due_date AS DATE))
            FROM ({salary_filter}) s
            WHERE lower(city) LIKE '%hà nội%' OR lower(city) LIKE '%hanoi%'
               OR lower(province) LIKE '%hà nội%'
            ORDER BY due_date ASC""",
    }


class DuckViews:
    """Reference results of the views over the lake's current versions,
    computed once per view and kept as digests."""

    TABLES = {
        "DimJob": "dim_job",
        "DimCompany": "dim_company",
        "DimLocation": "dim_location",
        "DimDate": "dim_date",
        "FactJobPostingDaily": "fact_job_posting_daily",
        "FactJobLocationBridge": "fact_job_location_bridge",
    }

    def __init__(self, lake, run_date: dt.date, work_dir: str):
        import duckdb

        self.con = duckdb.connect(config={"threads": 2, "temp_directory": work_dir})
        self.con.execute(f"SET TimeZone='{TZ_NAME}'")
        for view, table in self.TABLES.items():
            root = lake.path(table)
            if table == "fact_job_posting_daily":
                src = (
                    f"read_parquet('{root}/*/*.parquet', hive_partitioning=true, "
                    "hive_types={'load_month': VARCHAR})"
                )
            else:
                src = f"read_parquet('{root}/*.parquet')"
            # Spark's default INT96 timestamps arrive as naive UTC values
            cols = self.con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
            naive = [c[0] for c in cols if c[1] == "TIMESTAMP"]
            replace = (
                " REPLACE (" + ", ".join(f"timezone('UTC', {c}) AS {c}" for c in naive) + ")"
                if naive
                else ""
            )
            self.con.execute(f"CREATE VIEW {view} AS SELECT *{replace} FROM {src}")
        self.sql = duckdb_view_sql(run_date)
        self._expected: dict[str, object] = {}

    def reference(self, name: str):
        if name not in self._expected:
            tbl = self.con.execute(self.sql[name]).arrow()
            if name == "vw_top10_hn":
                self._expected[name] = tbl
            else:
                self._expected[name] = table_digest(tbl)
        return self._expected[name]

    def check(self, name: str, result) -> bool:
        """True iff the Spark result matches DuckDB's."""
        ref = self.reference(name)
        if name != "vw_top10_hn":
            return table_digest(result.select(result.column_names)) == ref
        # top-k with ties on the sort key: same due_date sequence, and
        # every returned row is one DuckDB ranks at or before the cut
        n = min(10, ref.num_rows)
        due = _canon_column(ref.column(5))
        got_due = sorted(x for x in _canon_column(result.column(5)))
        if result.num_rows != n or got_due != sorted(due[:n]):
            return False
        cut = due[n - 1] if n else None
        allowed = {_row_key(ref, i) for i in range(ref.num_rows) if due[i] <= cut}
        return all(_row_key(result, i) in allowed for i in range(result.num_rows))


def _row_key(tbl, i: int) -> tuple:
    return tuple(_canon_column(c.slice(i, 1))[0] for c in tbl.columns)
