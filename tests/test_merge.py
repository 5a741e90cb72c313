"""``operators.merge.upsert_by_key``: the one-pass form keeps exactly the
rows of the two-pass reference (dedupe, anti-join, union) and reads its
incoming side once."""

from __future__ import annotations

import pytest

from jobinsight_data_pipeline_spark.operators.merge import (
    dedupe_last_write,
    upsert_by_key,
)

SCHEMA = "k long, k2 string, v string, t long"


def two_pass_upsert(existing, incoming, keys, order_col):
    incoming = dedupe_last_write(incoming, keys, order_col)
    kept = existing.join(incoming.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(incoming.select(existing.columns))


CASES = {
    # null keys never match, on either side; incoming null keys dedupe
    "null_keys": (
        [(None, "a", "old-null", 1), (1, "a", "old-1", 1)],
        [(None, "a", "new-null-1", 5), (None, "a", "new-null-2", 6), (1, "a", "new-1", 2)],
    ),
    # every copy of an unmatched duplicate existing key is kept; a
    # matched one is replaced wholesale
    "duplicate_existing": (
        [(1, "a", "x", 1), (1, "a", "y", 2), (2, "b", "z", 3), (2, "b", "w", 4)],
        [(2, "b", "n", 9), (3, "c", "m", 1)],
    ),
    # incoming rows tied on order_col: the xxhash64 tie-break picks one
    "tied_order": (
        [(1, "a", "old", 1)],
        [(1, "a", "p", 7), (1, "a", "q", 7), (1, "a", "r", 7), (2, "b", "s", None), (2, "b", "t", None)],
    ),
    # composite keys with a nullable part
    "composite": (
        [(1, "a", "keep", 1), (1, "b", "swap", 1), (2, None, "null-part", 1)],
        [(1, "b", "new", 3), (2, None, "new-null-part", 3), (1, "c", "fresh", 2)],
    ),
}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("keys", [["k"], ["k", "k2"]], ids=["key", "composite_key"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_upsert_matches_two_pass_reference(spark, case, keys):
    existing_rows, incoming_rows = CASES[case]
    existing = spark.createDataFrame(existing_rows, SCHEMA)
    # an extra incoming-only column: part of the tie-break hash, dropped
    # from the output
    incoming = spark.createDataFrame(
        [r + (f"e{i}",) for i, r in enumerate(incoming_rows)], SCHEMA + ", extra string"
    )
    got = upsert_by_key(existing, incoming, keys, "t")
    assert got.columns == existing.columns
    assert _rows(got) == _rows(two_pass_upsert(existing, incoming, keys, "t"))

    # without order_col the surviving incoming row is arbitrary: keys and
    # counts only
    got = upsert_by_key(existing, incoming, keys)
    want = two_pass_upsert(existing, incoming, keys, None)
    assert _rows(got.select(*keys)) == _rows(want.select(*keys))


def test_upsert_without_existing_is_dedupe(spark):
    incoming = spark.createDataFrame([(1, "a", "p", 1), (1, "a", "q", 2)], SCHEMA)
    got = upsert_by_key(None, incoming, ["k"], "t")
    assert _rows(got) == [(1, "a", "q", 2)]


def test_upsert_scans_incoming_once(spark, tmp_path):
    # scan locations are truncated in plan strings: tell the two sources
    # apart by incoming's extra column instead
    existing_dir, incoming_dir = str(tmp_path / "existing"), str(tmp_path / "incoming")
    spark.createDataFrame([(1, "a", "x", 1), (2, "b", "y", 1)], SCHEMA).write.parquet(existing_dir)
    spark.createDataFrame(
        [(1, "a", "n", 2, "e0"), (3, "c", "m", 2, "e1")], SCHEMA + ", extra string"
    ).write.parquet(incoming_dir)
    existing, incoming = spark.read.parquet(existing_dir), spark.read.parquet(incoming_dir)

    def scans(df) -> tuple[int, int]:
        """(incoming scans, existing scans) in the executed plan."""
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [ln for ln in plan.split("== Initial Plan ==")[0].splitlines() if "FileScan" in ln]
        n_inc = sum(1 for ln in lines if "extra#" in ln)
        return n_inc, len(lines) - n_inc

    assert scans(upsert_by_key(existing, incoming, ["k"], "t")) == (1, 1)
    # the two-pass form reads incoming twice: the assertion above discriminates
    assert scans(two_pass_upsert(existing, incoming, ["k"], "t")) == (2, 1)
