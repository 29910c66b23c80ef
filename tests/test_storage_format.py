"""The cascade tables' parquet format (sources/writers.py): INT64
TIMESTAMP(MICROS), zstd, v2 data pages — pinned from the file footers —
and read compatibility with tables written in the old INT96 / snappy /
v1 format."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pyarrow.parquet as pq

from clickhouse_segments_tutorial_spark.segmentation import EventTimeSegmenter, SegmentSpec
from clickhouse_segments_tutorial_spark.segmentation.event_time import EVENT_TIME_LOG
from clickhouse_segments_tutorial_spark.sources import writers

SPEC = SegmentSpec(name="button_clickers", event_name="BUTTON_CLICK", threshold=2)
SCHEMA = (
    "user_id long, event_name string, message_id string, "
    "event_time timestamp, processing_time timestamp"
)
T0 = dt.datetime(2023, 6, 1, 12, 0, 0)
BATCH = dt.timedelta(minutes=5)
# what a v1 column chunk lists for its repetition/definition levels next
# to its value encoding: a PLAIN-only chunk lists PLAIN plus these
LEVEL_ENCODINGS = {"RLE", "BIT_PACKED"}


def _batch(spark, b: int):
    """Batch ``b`` of a small log: 300 users, one click each per batch for
    a rotating two thirds of them, plus one late event per batch — so a
    user's state spans several batches (and, in the mixed test, both
    formats) before it crosses the threshold."""
    pt = T0 + b * BATCH
    rows = [
        (u, "BUTTON_CLICK", f"m{b}-{u}", pt - dt.timedelta(seconds=u % 97), pt)
        for u in range(1, 301)
        if u % 3 != b % 3
    ]
    rows.append((7, "BUTTON_CLICK", f"late{b}", T0 - dt.timedelta(days=1, minutes=b), pt))
    return spark.createDataFrame(rows, SCHEMA)


def _run(seg, spark, batches) -> None:
    for b in batches:
        seg.process_batch(_batch(spark, b), lower_bound=T0 + b * BATCH, now=T0 + b * BATCH)


def _data_files(path: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert files, f"no data files under {path}"
    return files


def _tables(seg) -> dict[str, str]:
    return {
        "states": seg.states_path,
        "changelog": seg.changelog_path,
        "assignments": seg.assignments_path,
    }


def _chunks(path: str):
    """(column schema, column chunk metadata) for every column chunk of
    every data file of the table at ``path``."""
    for f in _data_files(path):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        for g in range(md.num_row_groups):
            for i in range(md.num_columns):
                yield pf.schema.column(i), md.row_group(g).column(i)


def _timestamp_unit(col) -> str | None:
    """'INT96', a TIMESTAMP logical type's unit, or None for a non-timestamp."""
    if col.physical_type == "INT96":
        return "INT96"
    meta = json.loads(col.logical_type.to_json())
    return meta["timeUnit"] if meta.get("Type") == "Timestamp" else None


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it submitted)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_cascade_tables_are_int64_zstd_delta_encoded(spark, tmp_path):
    """Every data file of the three cascade tables, after one batch and a
    states compaction: timestamps are INT64 TIMESTAMP(MICROS) (no INT96),
    every column chunk is ZSTD, and the cluster key ``user_id`` is not
    written PLAIN-only (v2 pages: DELTA_BINARY_PACKED once the
    dictionary falls back)."""
    seg = EventTimeSegmenter(spark, str(tmp_path / "seg"), SPEC, log=EVENT_TIME_LOG)
    _run(seg, spark, [0])
    seg.compact_states()
    for name, path in _tables(seg).items():
        timestamps = set()
        for col, chunk in _chunks(path):
            assert chunk.compression == "ZSTD", (name, col.path, chunk.compression)
            unit = _timestamp_unit(col)
            if unit is not None:
                assert (col.physical_type, unit) == ("INT64", "microseconds"), (name, col.path)
                timestamps.add(col.path)
            if col.path == "user_id":
                values = set(chunk.encodings) - LEVEL_ENCODINGS
                assert values != {"PLAIN"}, (name, chunk.encodings)
        assert timestamps, f"{name}: no timestamp column checked"
    # the compaction is a rewrite_table: one file, same format
    assert len(_data_files(seg.states_path)) == 1


def test_old_format_tables_read_and_merge_with_new(spark, tmp_path, monkeypatch):
    """A workdir whose first two batches were written in the old format
    (INT96 timestamps, snappy, v1 pages) continues in the new format and
    compacts: membership and last_event_time equal a fresh new-format run
    over the same four batches, and reading the mixed tables submits no
    Spark job."""
    conf = spark.conf
    new_conf = {
        k: conf.get(k)
        for k in ("spark.sql.parquet.outputTimestampType", "spark.sql.parquet.compression.codec")
    }
    seg = EventTimeSegmenter(spark, str(tmp_path / "mixed"), SPEC, log=EVENT_TIME_LOG)
    try:
        conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        conf.set("spark.sql.parquet.compression.codec", "snappy")
        with monkeypatch.context() as m:
            m.setattr(writers, "WRITE_OPTIONS", {"parquet.writer.version": "v1"})
            _run(seg, spark, [0, 1])
    finally:
        for k, v in new_conf.items():
            conf.set(k, v)
    old = list(_chunks(seg.states_path))
    assert {c.compression for _, c in old} == {"SNAPPY"}
    assert "INT96" in {_timestamp_unit(col) for col, _ in old}

    _run(seg, spark, [2, 3])
    for name, path in _tables(seg).items():
        assert {c.compression for _, c in _chunks(path)} == {"SNAPPY", "ZSTD"}, name
    reads = {
        "states": seg.states,
        "changelog": lambda: seg._read(seg.changelog_path),
        "assignments": seg.assignments,
        "serve": seg.members_with_last_event_time,
    }
    for name, read in reads.items():
        df, jobs = _jobs(spark, read)
        assert df is not None and jobs == 0, (name, jobs)
    seg.compact_states()
    mixed = sorted(map(tuple, seg.members_with_last_event_time().collect()))

    fresh = EventTimeSegmenter(spark, str(tmp_path / "fresh"), SPEC, log=EVENT_TIME_LOG)
    _run(fresh, spark, [0, 1, 2, 3])
    fresh.compact_states()
    want = sorted(map(tuple, fresh.members_with_last_event_time().collect()))
    assert len(want) > 100
    assert mixed == want
