"""Plain-Parquet lakehouse with versioned table directories.

Upserted tables (dims, fact, bridge, staging) are fully re-materialized
per merge; because Spark reads lazily, overwriting a directory we are
still reading from corrupts the plan. Each logical table is therefore a
directory of immutable version snapshots plus a pointer file:

    <lake>/<table>/_v00017/part-*.parquet
    <lake>/<table>/_CURRENT            # contains "_v00017"

Writes go to a fresh version dir, then the pointer flips — an atomic
single-file replace. Old versions double as the reference's
backup/restore mechanism (S12: /root/reference/src/etl/etl_main.py:62-201)
and are pruned with ``vacuum`` (keep last N, like the reference keeps the
last 5 file backups). On a real deployment swap this module for
Delta/Iceberg — the plans above it are format-agnostic.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ParquetLake:
    def __init__(self, root: str, keep_versions: int = 5):
        self.root = root
        self.keep_versions = keep_versions
        os.makedirs(root, exist_ok=True)

    # -- pointer management -------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_CURRENT")

    def _flip(self, table: str, version: str) -> None:
        """Point ``table`` at ``version`` — an atomic single-file replace."""
        tmp = self._pointer(table) + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, self._pointer(table))

    def current_version(self, table: str) -> str | None:
        try:
            with open(self._pointer(table)) as fh:
                return fh.read().strip() or None
        except FileNotFoundError:
            return None

    def versions(self, table: str) -> list[str]:
        d = self._table_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            v
            for v in os.listdir(d)
            if v.startswith("_v") and os.path.isdir(os.path.join(d, v))
        )

    # -- read/write ---------------------------------------------------------
    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def _resolve_version(self, table: str, version: str | int | None) -> str | None:
        if version is None:
            return self.current_version(table)
        v = f"_v{version:05d}" if isinstance(version, int) else version
        if v not in self.versions(table):
            raise ValueError(f"unknown version {v} for {table}")
        return v

    def path(self, table: str, version: str | int | None = None) -> str | None:
        v = self._resolve_version(table, version)
        return os.path.join(self._table_dir(table), v) if v else None

    def read(
        self, spark: SparkSession, table: str, version: str | int | None = None
    ) -> DataFrame | None:
        """Read the table — current pointer by default, or a pinned
        snapshot (``version=17`` / ``"_v00017"``): time-travel over the
        retained version window, without moving the pointer (the
        Delta/Iceberg ``VERSION AS OF`` read, native to the versioned-dir
        layout — no extra machinery, old versions are already immutable).
        """
        p = self.path(table, version)
        if not p:
            return None
        # the schema sidecar makes empty tables (e.g. a partitioned write
        # of zero rows, which emits no part files) readable
        schema_file = p + ".schema"
        if os.path.exists(schema_file):
            from pyspark.sql.types import StructType

            with open(schema_file) as fh:
                schema = StructType.fromJson(json.loads(fh.read()))
            return spark.read.schema(schema).parquet(p)
        return spark.read.parquet(p)

    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> str:
        d = self._table_dir(table)
        os.makedirs(d, exist_ok=True)
        existing = self.versions(table)
        n = int(existing[-1][2:]) + 1 if existing else 0
        version = f"_v{n:05d}"
        target = os.path.join(d, version)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        with open(target + ".schema", "w") as fh:
            fh.write(json.dumps(df.schema.jsonValue()))
        self._flip(table, version)
        self.vacuum(table)
        return target

    # -- retention / restore (S12/S13) --------------------------------------
    def _drop_versions(self, table: str, versions: list[str]) -> None:
        """Delete the given snapshots of ``table``, never the live one."""
        live = self.current_version(table)
        for v in versions:
            if v != live:
                vdir = os.path.join(self._table_dir(table), v)
                shutil.rmtree(vdir, ignore_errors=True)
                try:
                    os.remove(vdir + ".schema")
                except FileNotFoundError:
                    pass

    def vacuum(self, table: str) -> None:
        self._drop_versions(table, self.versions(table)[: -self.keep_versions])

    def restore(self, table: str, version: str | None = None) -> str:
        """Roll the pointer back (reference: restore DB file backup on ETL
        failure). Default: previous version."""
        vs = self.versions(table)
        cur = self.current_version(table)
        if version is None:
            older = [v for v in vs if cur is None or v < cur]
            if not older:
                raise ValueError(f"no older version of {table} to restore")
            version = older[-1]
        if version not in vs:
            raise ValueError(f"unknown version {version} for {table}")
        self._flip(table, version)
        return version


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_col: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    predicate: str | None = None,
    fetch_size: int = 10_000,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """RDBMS source for the S2-origin path — the reference reads its
    staging tables from PostgreSQL (/root/reference/src/etl/
    raw_to_staging.py:245-281, SELECT … WHERE … LIMIT/OFFSET pages); on
    Spark the same contract is the built-in partitioned JDBC scan.

    Scale posture: a bare ``jdbc(table)`` read is ONE executor holding
    one cursor — the 100 TB anti-pattern. Pass ``partition_col`` (a
    roughly-uniform numeric/temporal key, e.g. the serial PK) plus
    bounds so Spark issues ``num_partitions`` concurrent range queries;
    ``predicate`` pushes the reference's ``query_filter`` into every
    range query as a WHERE clause (dbtable subquery, filter runs in the
    database, not post-scan). OFFSET paging is deliberately NOT exposed:
    OFFSET re-scans skipped rows server-side per page; key-range
    partitioning is the set-based equivalent.

    Needs the vendor JDBC driver jar on the Spark classpath
    (``spark.jars`` / ``--jars``); this sandbox ships none, so the
    contract is pinned by tests/test_sources.py's plan-level test and
    skip-marked live test."""
    src = table if predicate is None else f"(SELECT * FROM {table} WHERE {predicate}) j"
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", src)
        .option("fetchsize", str(fetch_size))
    )
    if partition_col is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC read needs lower_bound/upper_bound for "
                f"partition_col={partition_col!r} (run MIN/MAX in the DB first)"
            )
        reader = (
            reader.option("partitionColumn", partition_col)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option(
                "numPartitions",
                str(num_partitions or spark.sparkContext.defaultParallelism),
            )
        )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_mb: int = 128,
    partition_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
    zorder_files: int | None = None,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    long-lived lake needs (streaming sinks, frequent small appends, and
    over-parallel writers all fragment a table into thousands of tiny
    parquet files, and at 100 TB the scan's task-scheduling + footer
    overhead then dominates the read).

    One distributed job: read the fragmented directory, rewrite
    byte-targeted via :func:`write_sized` (AQE REBALANCE — splits skew,
    coalesces slivers, no count()-then-repartition extra pass). Writes
    to ``dst_path`` — publish-by-swap is the caller's step
    (``ParquetLake``'s versioned dirs give atomic publish for free;
    compacting in place would lose readers mid-rewrite).

    File counts are measured engine-side via ``input_file_name`` —
    portable to any FS/object store, no directory listing on the
    driver. Returns ``{"files_before", "files_after", "rows_before",
    "rows_after"}`` for the caller's invariance check (the gate pins
    rows_before == rows_after, files_after <= files_before, and a
    content checksum).

    ``zorder_by`` makes the compaction LAYOUT-AWARE (the OPTIMIZE
    ZORDER BY maintenance pass): rows are rewritten in Morton-key order
    (:func:`~jobinsight_data_pipeline_spark.operators.zorder.zorder_key_quantized`)
    via range-repartition + in-partition sort, so each output file
    holds a compact Z-curve segment and parquet min/max statistics
    prune on EVERY listed column at once — compaction and clustering in
    the same single rewrite. Byte-targeting still applies (AQE coalesces
    contiguous range partitions to the advisory size, preserving global
    key order across files); ``zorder_files`` pins an explicit output
    file count instead (audits/tests)."""
    def _stats(df: DataFrame):
        # input_file_name() is non-deterministic and must be PROJECTED
        # before it can feed an aggregate
        return (
            df.select(F.input_file_name().alias("_f"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("_f").alias("f"),
            )
            .first()
        )

    src = spark.read.parquet(src_path)
    before = _stats(src)
    if zorder_by:
        from jobinsight_data_pipeline_spark.operators.zorder import (
            zorder_key_quantized,
        )

        keyed = zorder_key_quantized(src, zorder_by, bits=zorder_bits)
        if zorder_files:
            part = keyed.repartitionByRange(
                int(zorder_files), F.col("zkey")
            )
        else:
            part = keyed.repartitionByRange(F.col("zkey"))
        with _advisory_size(spark, target_mb):
            writer = (
                part.sortWithinPartitions("zkey")
                .drop("zkey")
                .write.mode("overwrite")
            )
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(dst_path)
    else:
        write_sized(
            src, dst_path, target_mb=target_mb, partition_by=partition_by
        )
    after = _stats(spark.read.parquet(dst_path))
    return {
        "files_before": before["f"],
        "files_after": after["f"],
        "rows_before": before["n"],
        "rows_after": after["n"],
    }


@contextmanager
def _advisory_size(spark: SparkSession, target_mb: int):
    """Set AQE's advisory partition size for the block, then restore the
    previous value — no session-global side effect."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(target_mb * 1024 * 1024))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def write_sized(
    df: DataFrame,
    path: str,
    target_mb: int = 128,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Write parquet with byte-targeted output files — the small-files
    guard for high-volume sinks.

    Spark-native mechanism, no extra pass over the data: a REBALANCE
    hint lets AQE split/coalesce output partitions to the advisory byte
    size at runtime (skew-splitting included), instead of the classic
    estimate-rows-then-repartition dance that needs a count() of the
    full input. The advisory conf is saved and restored around the
    write.
    """
    with _advisory_size(df.sparkSession, target_mb):
        writer = df.hint("rebalance").write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)


def forget_keys(
    spark: SparkSession,
    lake: ParquetLake,
    tables: dict[str, str],
    keys: DataFrame,
    purge_history: bool = True,
) -> DataFrame:
    """Right-to-erasure delete propagation (GDPR Art. 17 / CCPA): for
    every ``table -> key column`` in ``tables``, rewrite the CURRENT
    version without any row whose key appears in ``keys`` (one-column
    frame; broadcast anti-join — the sanctioned membership shape,
    CLAUDE.md) and flip the lake pointer to the cleaned version.

    Erasure is only real once historical versions stop containing the
    rows: with ``purge_history`` (default) every superseded version of
    each touched table is deleted immediately after the cleaned write —
    time travel across the erasure boundary is deliberately destroyed
    for those tables (that is the point). With ``purge_history=False``
    the lake's normal ``keep_versions`` retention applies and the
    caller owns the compliance window.

    Returns the deletion manifest — (table_name, rows_before,
    rows_deleted, rows_after) per table, the audit artifact a DPO
    files. Counts are computed from the written frames (bounded
    scalars, one pass each); the rewrite itself is one anti-join +
    write per table, shuffle-free when the key frame broadcasts.
    """
    from pyspark.sql.functions import broadcast as _bc

    key_col_src = keys.columns[0]
    k = keys.select(F.col(key_col_src).alias("_forget_k")).distinct()
    rows = []
    for table, key_col in tables.items():
        before_df = lake.read(spark, table)
        before = before_df.count()
        cleaned = before_df.join(
            _bc(k), before_df[key_col] == k["_forget_k"], "left_anti"
        )
        lake.write(cleaned, table)
        if purge_history:
            lake._drop_versions(table, lake.versions(table))
        after = lake.read(spark, table).count()
        rows.append((table, before, before - after, after))
    return spark.createDataFrame(
        rows,
        "table_name string, rows_before long, rows_deleted long,"
        " rows_after long",
    )
