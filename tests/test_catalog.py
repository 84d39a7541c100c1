"""Catalog loads: the per-table schema cache and the scan-layout cache.

Both caches are keyed on :func:`yuki_spark.catalog.part_identity`, so
every test here writes its own table under ``tmp_path`` (a fresh
identity) and checks the cached path against an uncached
``spark.read.parquet`` of the same files.
"""
from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from yuki_spark import catalog

from tests.conftest import SF_SMOKE

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark) -> int:
    """Jobs the status store has seen so far (after the listener bus
    drained, so a just-finished job is counted)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def test_second_load_fires_no_job_and_matches_uncached_read(spark, tmp_path):
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path)
    first = catalog.load(spark, str(tmp_path), "orders")
    before = _jobs(spark)
    second = catalog.load(spark, str(tmp_path), "orders")
    assert _jobs(spark) == before
    raw = spark.read.parquet(catalog.table_path(str(tmp_path), "orders"))
    assert second.schema == first.schema == raw.schema
    assert sorted(second.collect()) == sorted(raw.collect())


def _write(table: pa.Table, path, pad: int) -> int:
    """Write ``table`` with ``pad`` bytes of footer metadata; the size."""
    pq.write_table(table.replace_schema_metadata({"pad": "x" * pad}), path)
    return os.path.getsize(path)


def test_rewrite_with_new_column_at_same_size_and_mtime_reinfers(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    ids = pa.array(range(5), pa.int64())
    narrow = pa.table({"doc_id": ids, "text": ["a b"] * 5})
    wide = narrow.append_column("extra", pa.array([1.5] * 5))
    # footer paddings at which both versions are the same byte size
    sizes = [{}, {}]
    for pad in range(512):
        for t, seen in zip((narrow, wide), sizes):
            seen.setdefault(_write(t, path, pad), pad)
    size = min(sizes[0].keys() & sizes[1].keys())

    _write(narrow, path, sizes[0][size])
    st = os.stat(path)
    assert catalog.load(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    _write(wide, path, sizes[1][size])
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size

    df = catalog.load(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text", "extra"]
    assert df.schema == spark.read.parquet(str(path)).schema
    assert sorted(r.extra for r in df.collect()) == [1.5] * 5


def test_events_ts_type_independent_of_earlier_nanos_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file reads as µs timestamps whatever
    nanosAsLong the session held before — on the inferring load and on
    the cached one."""
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_999], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": ts}),
        tmp_path / "events.parquet",
        version="2.6",
        coerce_timestamps=None,
    )
    prev = spark.conf.get(NANOS)
    try:
        seen = []
        for session_value in ("false", "false", "true"):
            spark.conf.set(NANOS, session_value)
            df = catalog.load(spark, str(tmp_path), "events")
            seen.append((dict(df.dtypes)["ts"], sorted(df.collect())))
        catalog._SCHEMA_CACHE.clear()
        spark.conf.set(NANOS, "false")
        df = catalog.load(spark, str(tmp_path), "events")
        seen.append((dict(df.dtypes)["ts"], sorted(df.collect())))
    finally:
        spark.conf.set(NANOS, prev)
    assert seen[0][0] == "timestamp"
    assert all(s == seen[0] for s in seen)
    # truncated to µs, like DuckDB's read
    assert [r.ts.microsecond for r in seen[0][1]] == [123456, 0]


def test_load_sets_pinned_confs_only_when_they_differ(spark, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    catalog.load(spark, SF_SMOKE, "events")
    sets = []
    orig = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set", lambda self, k, v: (sets.append(k), orig(self, k, v))
    )
    catalog.load(spark, SF_SMOKE, "events")
    catalog.load(spark, SF_SMOKE, "orders")
    assert sets == []


def test_scan_layout_sees_nested_partition_rewrite(tmp_path):
    root = tmp_path / "documents.parquet"
    for k in (1, 2):
        (root / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"x": [1, 2]}), root / f"k={k}" / "part-0.parquet")
    path = str(root)
    assert catalog._scan_layout(path) == (4, 2)
    top_mtime = os.stat(root).st_mtime_ns

    part = root / "k=2" / "part-0.parquet"
    pq.write_table(pa.table({"x": [1, 2, 3, 4, 5]}), part, row_group_size=2)
    assert os.stat(root).st_mtime_ns == top_mtime
    assert catalog._scan_layout(path) == (7, 4)
    assert catalog.table_rows(str(tmp_path), "documents") == 7


def test_scan_layout_missing_path_raises_file_not_found(tmp_path):
    path = catalog.table_path(str(tmp_path), "documents")
    for _ in range(2):  # nothing is cached for a missing table
        with pytest.raises(FileNotFoundError):
            catalog._scan_layout(path)
        with pytest.raises(FileNotFoundError):
            catalog.table_rows(str(tmp_path), "documents")
    (tmp_path / "documents.parquet").mkdir()
    with pytest.raises(FileNotFoundError, match="no parquet part files"):
        catalog.table_rows(str(tmp_path), "documents")
