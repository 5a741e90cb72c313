"""JSON-Lines interchange — the lingua franca of training corpora
(one JSON object per line; what most public text datasets ship as and
what tokenizer pipelines consume).

Thin by design: Spark's native ``json`` datasource already does the
right distributed things — line-delimited files split by byte range
(every executor reads its slice; no single-reader bottleneck), column
pruning reaches the parser, and corrupt lines quarantine into a column
instead of failing the job. This module pins the production contract
around it:

- **Always pass an explicit schema when reading.** Schema inference is
  a full extra pass over 100 TB before the real one; ``read_jsonl``
  therefore takes the schema as a required argument (infer once
  interactively with ``spark.read.json(path).schema``, then freeze it
  in code).
- **Permissive + quarantine, not fail-fast.** Real corpora carry
  truncated lines; mode=PERMISSIVE routes them to
  ``_corrupt_record`` so the pipeline can count/inspect them
  (``corrupt_lines``) instead of dying mid-job.
- **Plain (or zstd-framed) text stays splittable; single-stream gzip
  does not** — a ``.json.gz`` shard is one task no matter its size.
  Shard at write time (``shards=``) so downstream readers
  parallelize without a repartition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType


def write_jsonl(
    df: DataFrame,
    path: str,
    shards: int | None = None,
    compression: str | None = None,
) -> None:
    """Write ``df`` as JSON-Lines shards under ``path`` (overwrite).
    ``shards`` repartitions for the target file count — size shards so
    a single (uncompressed or zstd) file is 100-500 MB: big enough to
    amortize open cost, small enough that one task per shard keeps a
    1000-executor cluster busy."""
    out = df.repartition(shards) if shards else df
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def _parse_lines(
    lines: DataFrame, schema: StructType, *keep: Column
) -> DataFrame:
    """The one JSON-Lines parse, for batch and streaming text frames:
    blank ``value`` lines dropped, the rest parsed permissively into the
    struct ``_p`` (``schema``'s fields plus ``_corrupt_record``, which
    holds each malformed line), next to the ``keep`` columns."""
    full = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = F.from_json(
        F.col("value"),
        full,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return (
        # the json datasource skips blank lines; mirror that, or every
        # trailing newline would surface as a phantom corrupt row
        lines.filter(F.length(F.trim(F.col("value"))) > 0)
        .select(*keep, parsed.alias("_p"))
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read JSON-Lines with a FROZEN schema (no inference pass).
    Malformed lines (invalid JSON or type-mismatched fields) land in
    ``_corrupt_record``; with ``keep_corrupt`` the raw frame (data
    columns + quarantine column) comes back, else corrupt ROWS are
    filtered out — a malformed line parses to all-NULL data columns, so
    merely dropping the column would leak a phantom null row per bad
    line.

    Built on a text scan + ``from_json`` rather than the ``json``
    datasource: the datasource refuses any plan whose required scan
    schema is only its internal corrupt column (SPARK-21610), which is
    exactly the shape ``clean.count()`` or a quarantine count takes
    after filtering on corruptness. The parser (Jackson, permissive
    mode) and the byte-range splittability are identical; Catalyst's
    OptimizeJsonExprs still prunes the parse schema down to the fields
    a query actually touches."""
    df = _parse_lines(spark.read.text(path), schema).select("_p.*")
    if keep_corrupt:
        return df
    return df.filter(F.col("_corrupt_record").isNull()).select(
        *[f.name for f in schema.fields]
    )


def corrupt_lines(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """The quarantine view: just the raw lines that failed the schema
    (as ``line``), for counting and triage."""
    return (
        _parse_lines(spark.read.text(path), schema, F.col("value"))
        .filter(F.col("_p._corrupt_record").isNotNull())
        .select(F.col("value").alias("line"))
    )
