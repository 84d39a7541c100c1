"""IO sources/sinks: multi-format staging (SURVEY O8) and
partitioned/bucketed writes (O9)."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from yuki_spark.io.sinks import write_bucketed_table, write_csv, write_json, write_parquet
from yuki_spark.io.sources import infer_format, read_many, read_source


def test_infer_format():
    assert infer_format("/x/a.parquet") == "parquet"
    assert infer_format("/x/a.jsonl") == "json"
    assert infer_format("/x/a.tsv") == "csv"
    with pytest.raises(ValueError):
        infer_format("/x/a.unknown")


def test_roundtrip_csv_json_parquet(spark, tmp_path):
    src = read_source(spark, f"{SF_SMOKE}/nation.parquet")
    rows = {tuple(r) for r in src.collect()}

    csv_path = str(tmp_path / "nation.csv")
    write_csv(src, csv_path)
    back = read_source(spark, csv_path, schema=src.schema)
    assert {tuple(r) for r in back.collect()} == rows

    json_path = str(tmp_path / "nation.json")
    write_json(src, json_path)
    back = read_source(spark, json_path, schema=src.schema)
    assert {tuple(r) for r in back.collect()} == rows

    # ORC: extension-inferred on read (sources._EXT_FORMAT), native
    # Spark writer — the remaining columnar format the engine claims
    orc_path = str(tmp_path / "nation.orc")
    src.write.format("orc").save(orc_path)
    back = read_source(spark, orc_path)
    assert {tuple(r) for r in back.collect()} == rows


def test_column_projection_prunes_scan(spark):
    df = read_source(
        spark, f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey", "l_quantity"]
    )
    assert df.columns == ["l_orderkey", "l_quantity"]
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "l_extendedprice" not in plan  # scan pruned, not post-filtered


def test_read_many_registers_views(spark):
    out = read_many(
        spark,
        {
            "v_nation": f"{SF_SMOKE}/nation.parquet",
            "v_region": f"{SF_SMOKE}/region.parquet",
        },
        register=True,
    )
    assert set(out) == {"v_nation", "v_region"}
    assert spark.table("v_nation").count() == 25


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    orders = read_source(spark, f"{SF_SMOKE}/orders.parquet")
    path = str(tmp_path / "orders_part")
    write_parquet(
        orders.withColumn("year", F.year("o_orderdate")),
        path,
        partition_by=["year"],
        target_files=2,
    )
    years = {d for d in os.listdir(path) if d.startswith("year=")}
    assert len(years) > 1
    pruned = spark.read.parquet(path).where(F.col("year") == 1995)
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(year" in plan.replace("#", "").replace(
        "year)", "year"
    ) or "year = 1995" in plan  # partition pruning reached the scan
    assert pruned.count() == orders.where(F.year("o_orderdate") == 1995).count()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketed tables on the join key: the sort-merge join must read
    both sides without an Exchange (the co-located layout survives)."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = read_source(spark, f"{SF_SMOKE}/orders.parquet")
    lineitem = read_source(spark, f"{SF_SMOKE}/lineitem.parquet")
    write_bucketed_table(
        orders, "b_orders", ["o_orderkey"], 8, path=str(tmp_path / "b_orders")
    )
    write_bucketed_table(
        lineitem, "b_lineitem", ["l_orderkey"], 8, path=str(tmp_path / "b_lineitem")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "Exchange" not in plan  # neither shuffle nor broadcast needed
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_read_binary_files_glob_and_size_cap(spark, tmp_path):
    from yuki_spark.io.sources import read_binary_files

    (tmp_path / "a.jpg").write_bytes(b"\xff\xd8tiny")
    (tmp_path / "b.jpg").write_bytes(b"\xff\xd8" + b"x" * 1000)
    (tmp_path / "c.txt").write_bytes(b"not media")
    df = read_binary_files(spark, str(tmp_path), glob="*.jpg")
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert set(rows) == {"a.jpg", "b.jpg"}  # glob excluded c.txt
    assert rows["a.jpg"]["content"] == b"\xff\xd8tiny"
    assert rows["a.jpg"]["length"] == 6
    capped = read_binary_files(spark, str(tmp_path), glob="*.jpg", max_bytes=100)
    assert [os.path.basename(r["path"]) for r in capped.collect()] == ["a.jpg"]


def test_tsv_directory_gets_tab_separator(spark, tmp_path):
    """A directory of .tsv part files infers csv AND tab separator —
    the top-level path carries no extension."""
    d = tmp_path / "tsv_ds"
    d.mkdir()
    (d / "part-0000.tsv").write_text("a\tb\n1\tx\n2\ty\n")
    df = read_source(spark, str(d))
    assert df.columns == ["a", "b"]
    assert {(r["a"], r["b"]) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_ntz_reinterpretation_is_session_tz_invariant(spark):
    """catalog's NTZ fallback must interpret naive micros as UTC
    instants under ANY session timezone — including a wall time
    inside a DST spring-forward gap, where a session-tz cast would
    shift the instant (the local mapping isn't total there), a
    fall-back overlap, a pre-epoch fraction and a leap day. It must
    also leave the session timezone alone, so 8 threads casting at
    once under a non-UTC zone all get UTC instants and the zone is
    unchanged afterwards."""
    from concurrent.futures import ThreadPoolExecutor

    from yuki_spark.catalog import ntz_as_utc_instant

    cases = [
        ("2024-03-01 12:00:00", 1709294400000000),  # plain noon
        ("2024-03-10 02:30:00.123456", 1710037800123456),  # US spring-forward gap
        ("2024-11-03 01:30:00", 1730597400000000),  # US fall-back overlap
        ("2024-07-04 15:45:30.5", 1720107930500000),  # summer time
        ("1969-12-31 23:59:59.999999", -1),  # pre-epoch fraction
        ("1600-02-29 00:00:00", -11670998400000000),  # leap day
        (None, None),
    ]
    ntz = spark.createDataFrame([(r,) for r, _ in cases], "raw string").select(
        F.col("raw").cast("timestamp_ntz").alias("ts"), "raw"
    )
    want = {raw: us for raw, us in cases}

    def cast_all() -> dict:
        rows = ntz_as_utc_instant(ntz, "ts").select(
            "raw", F.unix_micros("ts").alias("us")
        )
        return {r["raw"]: r["us"] for r in rows.collect()}

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("Asia/Tokyo", "America/New_York", "Asia/Kolkata", "UTC"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            assert cast_all() == want, tz
            assert spark.conf.get("spark.sql.session.timeZone") == tz
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(lambda _: cast_all(), range(8)))
        assert all(r == want for r in results)
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_overwrite_partitions_replaces_only_touched_slices(spark, tmp_path):
    """The backfill primitive: rewriting one partition's data must not
    clobber sibling partitions (dynamic partition overwrite), while a
    plain overwrite of the same root would drop them."""
    from yuki_spark.io.sinks import overwrite_partitions

    root = str(tmp_path / "days")
    base = spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2"), (4, "d3")], "id long, day string"
    )
    write_parquet(base, root, partition_by=["day"])
    # reprocess day d2 only: new rows for d2, siblings untouched
    fix = spark.createDataFrame([(30, "d2"), (31, "d2")], "id long, day string")
    overwrite_partitions(fix, root, ["day"])
    got = {
        (r["day"], r["id"]) for r in spark.read.parquet(root).collect()
    }
    assert got == {("d1", 1), ("d1", 2), ("d2", 30), ("d2", 31), ("d3", 4)}


def test_merge_schema_reads_evolved_dataset(spark, tmp_path):
    """Schema-evolution read: a dataset whose later files gained a
    column reads as the union schema with nulls in older files."""
    root = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(root)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(root)
    merged = read_source(spark, root, merge_schema=True)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[2] == 9.5 and rows[1] is None
