"""Tests for ingest front (HTML), CDC journal, export/retention,
streaming incremental mode, and multimodal plumbing."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from jobinsight_data_pipeline_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    sample_frames,
)
from jobinsight_data_pipeline_spark.schemas import RAW_JOBS
from jobinsight_data_pipeline_spark.sources.cdc import (
    read_cdc,
    retention_cdc,
    write_cdc,
)
from jobinsight_data_pipeline_spark.sources.export import (
    export_partitioned,
    restore_partition,
    retention_partitions,
)
from jobinsight_data_pipeline_spark.sources.html import read_html_jobs
from jobinsight_data_pipeline_spark.sources.lake import ParquetLake
from jobinsight_data_pipeline_spark.streaming.incremental import (
    stream_raw_ingest,
    windowed_event_counts,
)

AS_OF = dt.datetime(2025, 6, 1, 18, 0, 0)

JOB_CARD = """
<div class="job-list">
<div class="job-item-2" data-job-id="1001">
  <h3 class="title"><a href="/job-detail/python-dev-1001.html">
    <span data-original-title="Senior Python Developer - Urgent">Senior Python…</span></a></h3>
  <a class="company" href="https://www.topcv.vn/company/abc">Công ty TNHH ABC</a>
  <span class="salary">15 - 20 triệu</span>
  <label class="address">Hà Nội</label>
  <span class="deadline">Còn 30 ngày</span>
  <span class="vip-badge">VIP</span>
  <a href="/job-detail/python-dev-1001.html"><img src="https://logo/1001.png"/></a>
</div>
<div class="job-item-2" data-job-id="1002">
  <h3 class="title">Data Engineer</h3>
  <span class="salary">Thoả thuận</span>
  <label class="address">Đà Nẵng</label>
</div>
</div>
"""


def test_html_source(spark, tmp_path):
    html_dir = tmp_path / "html"
    html_dir.mkdir()
    (html_dir / "it_p1.html").write_text(JOB_CARD, encoding="utf-8")
    # duplicate page: same ids must dedupe
    (html_dir / "it_p2.html").write_text(JOB_CARD, encoding="utf-8")

    df = read_html_jobs(spark, str(html_dir), AS_OF)
    rows = {r["job_id"]: r for r in df.collect()}
    assert set(rows) == {"1001", "1002"}
    r = rows["1001"]
    assert r["title"] == "Senior Python Developer - Urgent"
    assert r["salary"] == "15 - 20 triệu"
    assert r["verified_employer"] is True
    assert r["deadline"] == "30"
    assert r["logo_url"] == "https://logo/1001.png"
    assert r["crawled_at"] == AS_OF
    assert rows["1002"]["title"] == "Data Engineer"
    assert rows["1002"]["verified_employer"] is False


def test_cdc_roundtrip(spark, tmp_path):
    cdc_root = str(tmp_path / "cdc")
    batch = spark.createDataFrame(
        [("J1", "T1"), ("J2", "T2")], "job_id string, title string"
    )
    existing = spark.createDataFrame([("J2",)], "job_id string")
    write_cdc(batch, existing, cdc_root, AS_OF)

    back = read_cdc(spark, cdc_root)
    recs = {r["job_id"]: r for r in back.collect()}
    assert recs["J1"]["action"] == "insert"
    assert recs["J2"]["action"] == "update"
    assert recs["J1"]["data"]["title"] == "T1"
    assert recs["J1"]["metadata"]["source"] == "crawler"

    # retention: a day 40 days earlier is dropped, today's survives
    old = AS_OF - dt.timedelta(days=40)
    write_cdc(batch, None, cdc_root, old)
    removed = retention_cdc(cdc_root, keep_days=30, as_of=AS_OF.date())
    assert removed == [f"{old:%Y%m}/{old:%Y%m%d}"]
    assert read_cdc(spark, cdc_root).count() == 2


def test_export_restore_retention(spark, tmp_path):
    out = str(tmp_path / "export")
    df = spark.createDataFrame(
        [(1, "2025-05", 10.0), (2, "2025-06", 20.0), (3, "2025-01", 5.0)],
        "fact_id long, load_month string, salary_min double",
    )
    export_partitioned(df, out)
    assert sorted(
        e for e in os.listdir(out) if e.startswith("load_month=")
    ) == ["load_month=2025-01", "load_month=2025-05", "load_month=2025-06"]

    # corrupt May in the "table", restore from export
    broken = df.filter("load_month != '2025-05'").union(
        spark.createDataFrame([(99, "2025-05", -1.0)], df.schema)
    )
    repaired = restore_partition(spark, out, broken, "2025-05")
    may = repaired.filter("load_month = '2025-05'").collect()
    assert len(may) == 1 and may[0]["fact_id"] == 1

    removed = retention_partitions(out, keep_months=3, as_of=dt.date(2025, 6, 1))
    assert removed == ["2025-01"]


def test_streaming_incremental(spark, tmp_path):
    raw_dir = tmp_path / "raw_stream"
    raw_dir.mkdir()
    lake = ParquetLake(str(tmp_path / "lake"))
    batch = spark.createDataFrame(
        [
            (
                "S1", "Stream Job", None, "Stream Co", None, "10 triệu", None,
                "Hà Nội", None, "10", False, None, None, None, AS_OF,
            )
        ],
        RAW_JOBS,
    )
    batch.write.parquet(str(raw_dir / "drop1"))

    q = stream_raw_ingest(
        spark,
        str(raw_dir / "drop1"),
        lake,
        str(tmp_path / "ckpt"),
        AS_OF,
        process_dwh=False,
    )
    q.awaitTermination(120)
    staging = lake.read(spark, "staging_jobs")
    rows = staging.collect()
    assert len(rows) == 1
    assert rows[0]["salary_min"] == 10.0 and rows[0]["title_clean"] == "Stream Job"


def test_streaming_two_drops_exactly_once(spark, tmp_path):
    """Two file drops with an overlapping job: the checkpoint must skip
    already-processed files on restart, and the second drop's version of
    the overlapping job must win in staging (idempotent upsert)."""
    raw_dir = tmp_path / "raw_stream2"
    raw_dir.mkdir()
    ckpt = str(tmp_path / "ckpt2")
    lake = ParquetLake(str(tmp_path / "lake2"))

    def batch(rows):
        return spark.createDataFrame(rows, RAW_JOBS)

    def job(job_id, title, crawled):
        return (job_id, title, None, "Co", None, "10 triệu", None, "HN", None,
                "10", False, None, None, None, crawled)

    batch([job("S1", "v1", AS_OF)]).write.parquet(str(raw_dir / "d1"))
    # glob: each drop is its own parquet directory under raw_dir
    q = stream_raw_ingest(spark, str(raw_dir) + "/*", lake, ckpt, AS_OF, process_dwh=False)
    q.awaitTermination(120)
    assert lake.read(spark, "staging_jobs").count() == 1

    # second drop: S1 re-crawled with a new title + a brand-new job
    later = AS_OF + dt.timedelta(hours=2)
    batch([job("S1", "v2", later), job("S2", "other", later)]).write.parquet(
        str(raw_dir / "d2")
    )
    q = stream_raw_ingest(spark, str(raw_dir) + "/*", lake, ckpt, later, process_dwh=False)
    q.awaitTermination(120)

    staging = {r["job_id"]: r for r in lake.read(spark, "staging_jobs").collect()}
    assert set(staging) == {"S1", "S2"}
    assert staging["S1"]["title"] == "v2"  # last write won, no duplicate
    # d1 was NOT reprocessed: raw has exactly the 2 jobs, once each
    assert lake.read(spark, "raw_jobs").count() == 2


def test_streaming_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: an in-batch gap closes a
    session immediately; a later batch's watermark fires the event-time
    timeout that flushes a quiet user's open session; sessions still
    inside the watermark stay open (state, not output)."""
    from jobinsight_data_pipeline_spark.streaming.stateful import streaming_sessionize

    d = dt.datetime(2024, 3, 1)
    schema = "event_id long, ts timestamp, user_id long"

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / "events" / name)
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "events") + "/*")
    )
    rows: list = []

    def run():
        q = (
            streaming_sessionize(stream, gap_minutes=30, watermark="1 hour")
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drop("d1", [(1, d.replace(hour=10), 100),
                (2, d.replace(hour=10, minute=10), 100)])
    drop("d2", [(3, d.replace(hour=11, minute=30), 100),   # >30m gap → closes s1
                (4, d.replace(hour=15), 200)])             # watermark → 14:00
    run()
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in rows}
    s1 = (100, d.replace(hour=10), d.replace(hour=10, minute=10), 2)
    s2 = (100, d.replace(hour=11, minute=30), d.replace(hour=11, minute=30), 1)
    # s1 closed by the in-batch gap; s2 flushed by the event-time timeout
    # once the final watermark (14:00) passed 11:30 + gap. User 200's
    # session (15:00) is inside the watermark → held in state, not output.
    assert got == {s1, s2}

    # a later drop advances the watermark to 16:00 > 15:00 + gap → the
    # pending timeout flushes user 200 across a query restart (state and
    # watermark both recovered from the checkpoint)
    drop("d3", [(5, d.replace(hour=17), 300)])
    run()
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in rows}
    s200 = (200, d.replace(hour=15), d.replace(hour=15), 1)
    assert got == {s1, s2, s200}  # user 300 still open


def test_windowed_event_counts(spark):
    rows = [
        (dt.datetime(2024, 1, 1, 0, 1), "click", 1.0),
        (dt.datetime(2024, 1, 1, 0, 5), "click", 2.0),
        (dt.datetime(2024, 1, 1, 0, 15), "view", 3.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = {
        (r["window_start"], r["event_type"]): r
        for r in windowed_event_counts(df, "10 minutes").collect()
    }
    k = (dt.datetime(2024, 1, 1, 0, 0), "click")
    assert out[k]["n"] == 2 and out[k]["total_value"] == 3.0
    assert out[(dt.datetime(2024, 1, 1, 0, 10), "view")]["n"] == 1


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [
            (1, b"\x00\x01fakejpegbytes", ("image/jpeg", 640, 480, None)),
            (2, None, ("image/png", None, None, None)),
            (3, b"fakevideobytes", ("video/mp4", 1920, 1080, 3500)),
        ],
        MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 15 and len(feats[1]["feature"]) == 8
    assert feats[2]["feature"] is None and feats[2]["content_sha1"] is None
    # determinism: same bytes → same feature
    again = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["feature"] == again[1]["feature"]

    frames = sample_frames(media.filter("media_id = 3"), every_ms=1000, max_frames=16)
    got = [r["frame_ts_ms"] for r in frames.collect()]
    assert got == [0, 1000, 2000, 3000]  # 3500ms → 4 sampled frames


def test_arrow_batch_bound_scopes_conf_and_bounds_batches(spark):
    """The Arrow batch-row bound applies to actions INSIDE the context
    (conf is read at action time, not plan-build time) and the session
    conf is restored afterwards — no session-global leak."""
    import pandas as pd

    from jobinsight_data_pipeline_spark.operators.multimodal import (
        _ARROW_BATCH_KEY,
        arrow_batch_bound,
    )

    def batch_sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    df = spark.range(1000).repartition(1).toDF("id")
    plan = df.mapInPandas(batch_sizes, "n long")  # built OUTSIDE the bound
    before = spark.conf.get(_ARROW_BATCH_KEY, "10000")
    with arrow_batch_bound(spark, 100):
        sizes = [r["n"] for r in plan.collect()]
    assert max(sizes) <= 100 and sum(sizes) == 1000
    assert spark.conf.get(_ARROW_BATCH_KEY, "10000") == before


def test_media_features_gate_leaves_arrow_conf_alone(spark):
    """The catalog gate must not mutate the shared session's Arrow batch
    size (the driver runs every other gate in the same session)."""
    from jobinsight_data_pipeline_spark.catalog.textml import q_media_features
    from jobinsight_data_pipeline_spark.operators.multimodal import _ARROW_BATCH_KEY

    before = spark.conf.get(_ARROW_BATCH_KEY, "10000")
    q_media_features(spark, "/root/testdata/sf0.001").count()
    assert spark.conf.get(_ARROW_BATCH_KEY, "10000") == before


def test_stream_dedup_checkpoint_resume_across_runs(spark, tmp_path):
    """dropDuplicatesWithinWatermark state survives a query RESTART: a
    second availableNow run from the same checkpoint must drop
    duplicates of rows already emitted in the first run (state-store
    recovery), while still emitting genuinely new keys."""
    import pandas as pd

    from jobinsight_data_pipeline_spark.streaming.incremental import stream_dedup

    raw = str(tmp_path / "drops")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, value double"

    def drop(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("append").parquet(raw)

    t0 = "2024-01-01 00:00:00"
    drop("a", [(1, t0, 1.0), (2, t0, 2.0)])
    q = stream_dedup(spark, raw, schema, sink, ckpt, ["event_id"])
    q.awaitTermination()
    assert sorted(
        r["event_id"] for r in spark.read.parquet(sink).collect()
    ) == [1, 2]

    # restart with a new file: id=2 is a cross-RUN duplicate, id=3 is new
    drop("b", [(2, t0, 2.0), (3, t0, 3.0)])
    q2 = stream_dedup(spark, raw, schema, sink, ckpt, ["event_id"])
    q2.awaitTermination()
    assert sorted(
        r["event_id"] for r in spark.read.parquet(sink).collect()
    ) == [1, 2, 3]


def test_stream_state_merges_across_restarts(spark, tmp_path):
    """``stream_state`` writes each micro-batch's reduced state to its own
    ``batch=<epoch>`` partition: a restart on the same checkpoint adds
    only the new drop's partition, the merged state equals the reducer
    over every drop, and a run with no new drops changes nothing."""
    from jobinsight_data_pipeline_spark.streaming.incremental import (
        stream_state,
    )

    raw = str(tmp_path / "drops")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v long"
    drops = [
        [("a", 1), ("b", 2)],
        [("a", 10), ("c", 5)],
        [("b", 100), ("c", 1), ("d", 7)],
    ]

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(raw)

    def reduce(df):
        return df.groupBy("k").agg(F.sum("v").alias("v"))

    def run():
        assert stream_state(
            spark, raw, schema, state, ckpt, reduce
        ).awaitTermination(180)

    def snapshot():
        parts = sorted(p for p in os.listdir(state) if p.startswith("batch="))
        merged = {
            r["k"]: r["v"] for r in reduce(spark.read.parquet(state)).collect()
        }
        return parts, merged

    drop(drops[0])
    drop(drops[1])
    run()
    assert len(snapshot()[0]) == 2
    drop(drops[2])
    run()
    parts, merged = snapshot()
    assert len(parts) == 3
    expected = {
        r["k"]: r["v"]
        for r in reduce(
            spark.createDataFrame([x for d in drops for x in d], schema)
        ).collect()
    }
    assert merged == expected == {"a": 11, "b": 102, "c": 6, "d": 7}
    run()
    assert snapshot() == (parts, merged)


def test_write_sized_targets_output_file_bytes(spark, tmp_path):
    """Smaller byte targets must yield more, smaller files; the advisory
    conf must be restored afterwards (no session-global side effect)."""
    import glob

    from jobinsight_data_pipeline_spark.sources.lake import write_sized

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key, None)
    df = spark.range(0, 300_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad"  # ~150 bytes/row
    )

    big = str(tmp_path / "big")
    small = str(tmp_path / "small")
    write_sized(df, big, target_mb=512)
    write_sized(df, small, target_mb=1)

    n_big = len(glob.glob(f"{big}/part-*"))
    n_small = len(glob.glob(f"{small}/part-*"))
    assert n_big < n_small, (n_big, n_small)
    assert n_small >= 4

    after = spark.conf.get(key, None)
    assert after == before


def test_compact_parquet_invariance_and_stats(spark, tmp_path):
    """Compaction must preserve every row and value exactly, strictly
    reduce the file count on a fragmented input, and report honest
    before/after stats; the partitioned variant keeps the layout."""
    from jobinsight_data_pipeline_spark.sources.lake import compact_parquet

    df = spark.range(0, 5_000).selectExpr(
        "id", "id % 3 AS k", "md5(CAST(id AS STRING)) AS payload"
    )
    frag = str(tmp_path / "frag")
    df.repartition(32).write.parquet(frag)

    out = str(tmp_path / "compacted")
    stats = compact_parquet(spark, frag, out, target_mb=128)
    assert stats["files_before"] == 32
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows_before"] == stats["rows_after"] == 5_000
    back = spark.read.parquet(out)
    assert back.exceptAll(df).isEmpty() and df.exceptAll(back).isEmpty()

    part_out = str(tmp_path / "compacted_by_k")
    compact_parquet(spark, frag, part_out, target_mb=128, partition_by=["k"])
    back_p = spark.read.parquet(part_out)
    assert sorted(
        r["k"] for r in back_p.select("k").distinct().collect()
    ) == [0, 1, 2]
    assert back_p.count() == 5_000


def test_compact_parquet_zorder_layout(spark, tmp_path):
    """Layout-aware compaction (zorder_by): rows and values preserved
    exactly, output files hold NON-OVERLAPPING contiguous Z-key
    segments (global Morton order survives the rewrite — the property
    min/max pruning relies on), and each dimension's per-file spread
    is bounded (the clustering the single-column sort can't give)."""
    import pyspark.sql.functions as F

    from jobinsight_data_pipeline_spark.operators.zorder import (
        zorder_key_quantized,
    )
    from jobinsight_data_pipeline_spark.sources.lake import compact_parquet

    df = spark.range(0, 8_192).selectExpr(
        "id", "CAST(id % 128 AS BIGINT) AS x",
        "CAST((id * 37) % 128 AS BIGINT) AS y",
    )
    frag = str(tmp_path / "frag")
    df.repartition(32).write.parquet(frag)
    out = str(tmp_path / "zout")
    stats = compact_parquet(
        spark, frag, out, zorder_by=["x", "y"], zorder_files=8
    )
    assert stats["rows_before"] == stats["rows_after"] == 8_192
    assert stats["files_after"] == 8 < stats["files_before"]
    back = spark.read.parquet(out)
    assert back.exceptAll(df).isEmpty() and df.exceptAll(back).isEmpty()
    # per-file zkey ranges must not overlap (recompute the key the
    # writer sorted by — same deterministic quantizer + interleave).
    # input_file_name() refuses multi-source plans, so pin the file tag
    # BEFORE the quantizer's broadcast-stats crossJoin enters the plan.
    tagged = back.select(
        F.input_file_name().alias("f"), "x", "y"
    ).localCheckpoint(eager=True)
    ranges = sorted(
        (r["mn"], r["mx"])
        for r in zorder_key_quantized(tagged, ["x", "y"], bits=16)
        .groupBy("f")
        .agg(F.min("zkey").alias("mn"), F.max("zkey").alias("mx"))
        .collect()
    )
    for (_, mx_prev), (mn_next, _) in zip(ranges, ranges[1:]):
        assert mx_prev <= mn_next, ranges


def test_text_quality_projections_run_on_streams(spark, tmp_path):
    """The textstats/C4 blocks are stateless projections, so the SAME
    code path runs on a readStream frame — corpus quality filtering
    drops straight into a streaming ingest without a batch detour."""
    from jobinsight_data_pipeline_spark.operators.textstats import (
        with_c4_signals,
        with_text_stats,
    )

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "The weather is fine and that is good. We went out. It was fun!"),
         (2, "xx yy")],
        "doc_id: long, text: string",
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = with_c4_signals(with_text_stats(stream), "text").select(
        "doc_id", "quality", "c4_keep"
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("quality_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM quality_stream").collect()}
    assert rows[1]["c4_keep"] is True
    assert rows[2]["c4_keep"] is False
    assert rows[1]["quality"] > rows[2]["quality"]


def test_pii_redaction_runs_on_streams(spark, tmp_path):
    """redact_pii is a stateless native-regex projection, so the same
    code path scrubs a readStream frame — PII masking belongs at the
    ingest boundary, before anything persists."""
    from jobinsight_data_pipeline_spark.operators.textstats import redact_pii

    src = str(tmp_path / "pii_docs")
    spark.createDataFrame(
        [(1, "reach me at ops@example.net or 555-867-5309 x"),
         (2, "clean")],
        "doc_id: long, text: string",
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = redact_pii(stream, "text").select("doc_id", "n_email", "n_phone", "redacted")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("pii_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM pii_stream").collect()}
    assert rows[1]["redacted"] == "reach me at <EMAIL> or <PHONE> x"
    assert (rows[1]["n_email"], rows[1]["n_phone"]) == (1, 1)
    assert rows[2]["redacted"] == "clean"


def test_shuffle_shard_writes_one_file_per_shard(spark, tmp_path):
    """The sharded frame partitionBy("shard")-writes to one parquet file
    per shard directory (the training-loader layout the operator
    promises), and the readback round-trips every assignment."""
    import glob

    from jobinsight_data_pipeline_spark.operators.packing import shuffle_shard

    df = spark.range(0, 300).selectExpr("id AS k", "concat('doc-', id) AS body")
    sharded = shuffle_shard(df, "k", shard_size=64)
    out = str(tmp_path / "shards")
    sharded.repartition("shard").write.partitionBy("shard").parquet(out)

    dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(dirs) == 5  # 300 rows / 64 per shard
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1

    back = spark.read.parquet(out)
    assert back.count() == 300
    orig = {(r["k"], r["shard"], r["shard_pos"]) for r in sharded.collect()}
    got = {(r["k"], int(r["shard"]), r["shard_pos"]) for r in back.collect()}
    assert got == orig


def _jdbc_driver_present(spark, cls: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def test_read_jdbc_contract(spark):
    """S2-origin JDBC source: partitioned reads demand explicit bounds
    (an unbounded partition column would silently fall back to one
    cursor); predicate builds a pushdown subquery. No RDBMS/driver jar
    exists in this image, so the live path is skip-marked below."""
    import pytest as _pytest

    from jobinsight_data_pipeline_spark.sources.lake import read_jdbc

    with _pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(
            spark, "jdbc:postgresql://db/x", "staging_jobs", partition_col="id"
        )


def test_read_jdbc_live(spark, tmp_path):
    """Runs only when a SQLite JDBC driver jar is on the classpath:
    round-trips rows through a real JDBC scan with predicate pushdown."""
    import pytest as _pytest

    if not _jdbc_driver_present(spark, "org.sqlite.JDBC"):
        _pytest.skip("no JDBC driver jar on the Spark classpath in this image")
    import sqlite3

    from jobinsight_data_pipeline_spark.sources.lake import read_jdbc

    db = str(tmp_path / "jobs.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE staging_jobs (id INTEGER, title TEXT)")
    con.executemany(
        "INSERT INTO staging_jobs VALUES (?, ?)",
        [(i, f"t{i}") for i in range(100)],
    )
    con.commit()
    con.close()
    df = read_jdbc(
        spark,
        f"jdbc:sqlite:{db}",
        "staging_jobs",
        partition_col="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
        predicate="id < 50",
    )
    assert df.count() == 50
    assert df.rdd.getNumPartitions() == 4


def test_image_feature_fn_soft_import(spark):
    """build_image_feature_fn returns the deterministic fake in this
    codec-less image and the PIL kernel when Pillow exists; the chosen
    kernel drives extract_features unchanged (plumbing is kernel-
    agnostic)."""
    from jobinsight_data_pipeline_spark.operators.multimodal import (
        build_image_feature_fn,
        extract_features,
        fake_decode_features,
    )

    fn = build_image_feature_fn(dim=8)
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        assert fn(b"abc") == fake_decode_features(b"abc", 8)
    else:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (16, 8), (255, 0, 0)).save(buf, format="PNG")
        feats = fn(buf.getvalue())
        assert len(feats) == 8 and feats[2] == 0.75  # 3 bands / 4
    media = spark.createDataFrame(
        [(1, bytearray(b"xyz"), ("image/png", 4, 4, None))],
        "media_id long, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    out = extract_features(media, feature_fn=fn).collect()
    assert out[0]["feature"] is not None and len(out[0]["feature"]) == 8


def test_real_decode_raises_without_codecs():
    from jobinsight_data_pipeline_spark.operators.multimodal import real_decode

    try:
        import PIL  # noqa: F401
    except ImportError:
        import pytest as _pytest

        # PNG now decodes via the stdlib kernel — the PIL punt applies
        # to formats without a real kernel (e.g. JPEG); malformed PNG
        # bytes fail the kernel's own validation instead
        with _pytest.raises(NotImplementedError, match="Pillow"):
            real_decode(b"bytes", "image/jpeg")
        with _pytest.raises(ValueError, match="signature"):
            real_decode(b"bytes", "image/png")
        with _pytest.raises(NotImplementedError, match="av/ffmpeg"):
            real_decode(b"bytes", "video/mp4")


# ---------------------------------------------------------------------------
# JSONL interchange
# ---------------------------------------------------------------------------
def test_jsonl_roundtrip_exact(spark, tmp_path):
    """Write → read under a frozen schema must be value-exact, including
    JSON-hostile strings (quotes, backslashes, tabs, unicode)."""
    from jobinsight_data_pipeline_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    rows = [
        (1, 'he said "hi"', 3.5),
        (2, "back\\slash and\ttab", -0.0),
        (3, "unicode: café — déjà", 1e-300),
        (4, "", 2.0),
    ]
    df = spark.createDataFrame(rows, "id long, s string, x double")
    p = str(tmp_path / "docs")
    write_jsonl(df, p, shards=2)
    back = read_jsonl(spark, p, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
    assert [f.name for f in back.schema.fields] == ["id", "s", "x"]


def test_jsonl_corrupt_rows_quarantined_not_leaked(spark, tmp_path):
    """A malformed line must neither fail the read nor surface as a
    phantom all-NULL row; it lands in the quarantine view verbatim."""
    import os

    from jobinsight_data_pipeline_spark.sources.jsonl import (
        corrupt_lines,
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    p = str(tmp_path / "docs")
    write_jsonl(df, p)
    with open(os.path.join(p, "extra.json"), "w") as fh:
        fh.write('{broken\n{"id": "not a long", "s": "typed wrong"}\n')

    clean = read_jsonl(spark, p, df.schema)
    assert sorted((r.id, r.s) for r in clean.collect()) == [(1, "a"), (2, "b")]

    bad = sorted(r.line for r in corrupt_lines(spark, p, df.schema).collect())
    assert bad == ['{"id": "not a long", "s": "typed wrong"}', "{broken"]
    # the count-only plan must be legal too (SPARK-21610 regression guard)
    assert corrupt_lines(spark, p, df.schema).count() == 2


def test_jsonl_shard_count_and_compression(spark, tmp_path):
    import glob

    from jobinsight_data_pipeline_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
    p = str(tmp_path / "sharded")
    write_jsonl(df, p, shards=3, compression="gzip")
    parts = glob.glob(p + "/part-*.json.gz")
    assert len(parts) == 3
    back = read_jsonl(spark, p, df.schema)
    assert back.count() == 100


def test_stream_jsonl_ingest_matches_batch_parse(spark, tmp_path):
    """The streamed JSON-Lines parse equals the batch one on the same
    shard: the sink's clean rows are read_jsonl's rows, and its
    quarantined ``_corrupt_record`` values are corrupt_lines' lines
    (the blank line is skipped by both)."""
    from jobinsight_data_pipeline_spark.sources.jsonl import (
        corrupt_lines,
        read_jsonl,
    )
    from jobinsight_data_pipeline_spark.streaming.incremental import (
        stream_jsonl_ingest,
    )

    schema = spark.createDataFrame([], "id long, s string").schema
    drops = tmp_path / "drops"
    drops.mkdir()
    (drops / "shard-0.json").write_text(
        '{"id": 1, "s": "a"}\n'
        "\n"
        "{broken\n"
        '{"id": 2, "s": "b \\"quoted\\""}\n'
        '{"id": "not a long", "s": "typed wrong"}\n'
    )
    sink = str(tmp_path / "sink")
    stream_jsonl_ingest(
        spark, str(drops), schema, sink, str(tmp_path / "ckpt")
    ).awaitTermination()
    got = spark.read.parquet(sink)

    clean = got.filter("_corrupt_record IS NULL").select("id", "s")
    batch = read_jsonl(spark, str(drops), schema)
    assert sorted(map(tuple, clean.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert len(batch.collect()) == 2

    quarantined = sorted(
        r._corrupt_record
        for r in got.filter("_corrupt_record IS NOT NULL").collect()
    )
    lines = sorted(
        r.line for r in corrupt_lines(spark, str(drops), schema).collect()
    )
    assert quarantined == lines
    assert lines == ['{"id": "not a long", "s": "typed wrong"}', "{broken"]


def test_stream_incremental_dedup_kept_semantics(spark, tmp_path):
    """Production record='kept': a doc dropped as a duplicate does NOT
    join history, so a later doc identical to the DROPPED one (but not
    to anything kept) is classified by what actually survived. Batch 1:
    A kept, A' exact-dups A. Batch 2: A'' (same text as A) must still be
    exact_dup (A is in history); B (fresh) kept."""
    from jobinsight_data_pipeline_spark.operators.dedup import (
        build_dedup_state,
    )
    from jobinsight_data_pipeline_spark.streaming.incremental import (
        stream_incremental_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again"
    b1 = spark.createDataFrame(
        [(10, base), (11, base)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(20, base), (21, "a genuinely new document with fresh content")],
        "doc_id long, text string",
    )
    raw = str(tmp_path / "drops")
    import os

    for i, b in enumerate((b1, b2)):
        b.coalesce(1).write.mode("append").parquet(raw)
        for f in os.listdir(raw):
            p = os.path.join(raw, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1.75e9:
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    state_dir = str(tmp_path / "state")
    # seed an empty-but-present state from a zero-row frame
    build_dedup_state(b1.limit(0)).write.parquet(state_dir)
    q = stream_incremental_dedup(
        spark,
        raw,
        b1.schema,
        str(tmp_path / "sink"),
        state_dir,
        str(tmp_path / "ckpt"),
        record="kept",
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: r["status"]
        for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    }
    assert got == {
        10: "kept",
        11: "exact_dup",
        20: "exact_dup",
        21: "kept",
    }, got
    # state holds exactly the kept docs (10, 21)
    state_docs = {
        r["doc"]
        for r in spark.read.parquet(state_dir).select("doc").collect()
    }
    assert state_docs == {10, 21}, state_docs


def test_stream_semantic_dedup_kept_semantics(spark, tmp_path):
    """Embedding streaming loop, production record='kept': batch-1 A
    kept, A' (identical vector) near-dups it and stays OUT of state;
    batch-2 A'' (same vector again) still near-dups (A is in history);
    an orthogonal vector is kept. State holds exactly the kept docs."""
    import os

    from jobinsight_data_pipeline_spark.operators.similarity import (
        build_semantic_state,
        unit_centroids,
    )
    from jobinsight_data_pipeline_spark.streaming.incremental import (
        stream_semantic_dedup,
    )

    cents = unit_centroids(8, 4, seed=3)
    va = [1.0, 0.5, 0.0, 0.0, 0.2, 0.0, 0.0, 0.1]
    vb = [0.0, 0.0, 1.0, -0.7, 0.0, 0.4, 0.0, 0.0]
    b1 = spark.createDataFrame(
        [(10, va), (11, va)], "vec_id long, embedding array<double>"
    )
    b2 = spark.createDataFrame(
        [(20, va), (21, vb)], "vec_id long, embedding array<double>"
    )
    raw = str(tmp_path / "drops")
    for i, b in enumerate((b1, b2)):
        b.coalesce(1).write.mode("append").parquet(raw)
        for f in os.listdir(raw):
            p = os.path.join(raw, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1.75e9:
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    state_dir = str(tmp_path / "state")
    build_semantic_state(b1.limit(0), cents).write.parquet(state_dir)
    q = stream_semantic_dedup(
        spark,
        raw,
        b1.schema,
        str(tmp_path / "sink"),
        state_dir,
        str(tmp_path / "ckpt"),
        cents,
        threshold=0.9,
        record="kept",
    )
    q.awaitTermination()
    got = {
        r["vec_id"]: r["status"]
        for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    }
    assert got == {
        10: "kept",
        11: "near_dup",
        20: "near_dup",
        21: "kept",
    }, got
    state_docs = {
        r["doc"]
        for r in spark.read.parquet(state_dir).select("doc").collect()
    }
    assert state_docs == {10, 21}, state_docs


# --- CSV interchange (sources/csv.py) ----------------------------------------

def test_csv_roundtrip_exact(spark, tmp_path):
    """Write → read under a frozen schema must be value-exact for
    CSV-hostile strings: separators, RFC-4180 doubled quotes, leading
    zeros that must NOT re-type, unicode."""
    from jobinsight_data_pipeline_spark.sources.csv import read_csv, write_csv

    rows = [
        (1, 'he said, "hi, there"', 3),
        (2, "plain", -7),
        (3, 'ends with quote"', 0),
        (4, "007", 9),
        (5, "unicode: café — déjà", 12),
    ]
    df = spark.createDataFrame(rows, "id long, s string, x long")
    p = str(tmp_path / "docs")
    write_csv(df, p, shards=2)
    back = read_csv(spark, p, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
    assert [f.name for f in back.schema.fields] == ["id", "s", "x"]


def test_csv_corrupt_rows_quarantined_not_leaked(spark, tmp_path):
    """Type-failing rows must neither fail the read nor leak as phantom
    null rows; keep_corrupt surfaces them, the default drops them. The
    count-after-filter plan must be legal (the SPARK-21610 shape)."""
    import os

    from jobinsight_data_pipeline_spark.sources.csv import read_csv, write_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    p = str(tmp_path / "docs")
    write_csv(df, p)
    with open(os.path.join(p, "extra.csv"), "w") as fh:
        fh.write("not-a-long,typed wrong\n")

    clean = read_csv(spark, p, df.schema)
    assert sorted((r.id, r.s) for r in clean.collect()) == [(1, "a"), (2, "b")]
    raw = read_csv(spark, p, df.schema, keep_corrupt=True)
    quarantined = raw.filter("_corrupt_record IS NOT NULL")
    assert quarantined.count() == 1
    assert quarantined.head()["_corrupt_record"] == "not-a-long,typed wrong"


def test_csv_multiline_escape_hatch(spark, tmp_path):
    """Quoted embedded newlines are unreadable on the splittable line
    path by contract; read_csv_multiline parses them whole-file."""
    from jobinsight_data_pipeline_spark.sources.csv import (
        read_csv_multiline,
        write_csv,
    )

    rows = [(1, "line one\nline two", 5), (2, "single", 6)]
    df = spark.createDataFrame(rows, "id long, s string, x long")
    p = str(tmp_path / "ml")
    write_csv(df, p, shards=1)
    back = read_csv_multiline(spark, p, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_language_id_runs_on_streams(spark, tmp_path):
    """with_language_id is a stateless projection — the same code path
    classifies a readStream frame, so a streaming crawl ingest can
    language-filter without a batch detour."""
    from jobinsight_data_pipeline_spark.operators.textstats import (
        with_language_id,
    )

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "the cat is of the house and it is here"),
         (2, "le chien et le chat ne sont pas dans la maison"),
         (3, "zz qq 123")],
        "doc_id: long, text: string",
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = with_language_id(stream, "text").select("doc_id", "lang_pred")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("langid_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["doc_id"]: r["lang_pred"]
        for r in spark.sql("SELECT * FROM langid_stream").collect()
    }
    assert rows == {1: "en", 2: "fr", 3: "und"}


def test_kmeans_assign_runs_on_streams(spark, tmp_path):
    """kmeans_assign is a stateless projection over a broadcast literal
    model — the same code path routes a readStream of embeddings into
    cells (online cluster assignment), no batch detour."""
    from jobinsight_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
    )

    src = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(1, [0.1, 0.1]), (2, [0.9, 0.9]), (3, [0.12, 0.08])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    model = [[100_000, 100_000], [900_000, 900_000]]
    out = kmeans_assign(stream, model).select("vec_id", "cell")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("kmeans_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["vec_id"]: r["cell"]
        for r in spark.sql("SELECT * FROM kmeans_stream").collect()
    }
    assert rows == {1: 0, 2: 1, 3: 0}


def test_xml_roundtrip_fidelity(spark, tmp_path):
    """Spark 4's built-in XML datasource roundtrips every hostile class
    the xml_roundtrip gate plants: markup escaping (incl. ']]>'),
    surrounding spaces (needs ignoreSurroundingSpaces=false), embedded
    newline/tab, and the NULL-vs-empty distinction XML expresses
    natively ('' = empty element, NULL = element absent)."""
    rows = [
        (1, '<tag attr="v">body & ]]> </tag>'),
        (2, "  surrounded  "),
        (3, "line1\nline2\ttab"),
        (4, ""),
        (5, None),
        (6, "plain"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    p = str(tmp_path / "docs")
    df.repartition(2).write.format("xml").option("rowTag", "doc").save(p)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .schema(df.schema)
        .load(p)
    )
    assert sorted((r.id, r.s) for r in back.collect()) == rows


def test_csv_null_vs_empty_string_roundtrip(spark, tmp_path):
    """'' and NULL are different values and must survive the roundtrip
    distinctly — the default Spark CSV reader conflates both to NULL;
    the \\N null sentinel in CSV_OPTIONS keeps them apart."""
    from jobinsight_data_pipeline_spark.sources.csv import read_csv, write_csv

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x"), (4, "\\N-ish but quoted? no: plain")],
        "id long, s string",
    )
    p = str(tmp_path / "docs")
    write_csv(df, p)
    back = sorted((r.id, r.s) for r in read_csv(spark, p, df.schema).collect())
    assert back == [
        (1, ""), (2, None), (3, "x"), (4, "\\N-ish but quoted? no: plain")
    ]


def test_forget_keys_erasure_and_history_purge(spark, tmp_path):
    from jobinsight_data_pipeline_spark.sources.lake import (
        ParquetLake,
        forget_keys,
    )

    lake = ParquetLake(str(tmp_path / "lake"))
    users = spark.createDataFrame(
        [(i, f"u{i}") for i in range(10)], "uid long, name string"
    )
    orders = spark.createDataFrame(
        [(i, i % 10) for i in range(30)], "oid long, uid long"
    )
    lake.write(users, "users")
    lake.write(users, "users")  # second version: history to purge
    lake.write(orders, "orders")
    keys = spark.createDataFrame([(3,), (7,)], "uid long")

    m = {
        r["table_name"]: (r["rows_before"], r["rows_deleted"], r["rows_after"])
        for r in forget_keys(
            spark, lake, {"users": "uid", "orders": "uid"}, keys
        ).collect()
    }
    assert m == {"users": (10, 2, 8), "orders": (30, 6, 24)}
    # the forgotten keys are gone from the live tables...
    assert lake.read(spark, "users").filter("uid IN (3, 7)").count() == 0
    assert lake.read(spark, "orders").filter("uid IN (3, 7)").count() == 0
    # ...and from history: only the cleaned version remains on disk
    assert len(lake.versions("users")) == 1
    assert len(lake.versions("orders")) == 1
    # idempotent: a replayed forget deletes nothing further
    m2 = {
        r["table_name"]: r["rows_deleted"]
        for r in forget_keys(
            spark, lake, {"users": "uid", "orders": "uid"}, keys
        ).collect()
    }
    assert m2 == {"users": 0, "orders": 0}


def test_stream_forget_dedup_semantics(spark):
    """The streaming-state erasure contract, asserted explicitly (the
    gate hash pins it corpus-wide; this spells it out): after the
    foreachBatch stream resumes from its checkpoint post-erasure, an
    exact copy of a FORGOTTEN day-1 doc is judged as if the original
    never existed (kept), while a copy of a remembered doc stays
    exact_dup."""
    from jobinsight_data_pipeline_spark.catalog.textml import (
        FORGET_SRC_FORGOTTEN,
        FORGET_SRC_REMEMBERED,
        SFWD_COPY_FORGOT,
        SFWD_COPY_REMEMB,
        q_stream_forget_dedup,
    )

    out = {
        r["doc_id"]: r["status"]
        for r in q_stream_forget_dedup(spark, "/root/testdata/sf0.001")
        .filter(F.col("doc_id") >= SFWD_COPY_FORGOT)
        .collect()
    }
    for i in FORGET_SRC_FORGOTTEN:
        assert out[i + SFWD_COPY_FORGOT] == "kept", (i, out)
    for i in FORGET_SRC_REMEMBERED:
        assert out[i + SFWD_COPY_REMEMB] == "exact_dup", (i, out)
