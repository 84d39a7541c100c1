"""Optional Delta Lake layer — the transactional form of the engine's
snapshot idioms (import-gated, mirroring the PyAV pattern in
operators/codecs.py).

SURVEY §2.4 names the production shape: "on a lakehouse table the
snapshot rewrites become transactional MERGEs". The plain-parquet
paths (streaming.stream._commit / run_upsert_snapshot,
ImpressionStore's content-addressed deposits) stay the default and are
fully exercised in CI; when ``delta-spark`` IS importable these
helpers provide the real thing:

- :func:`merge_into` — MERGE INTO on keys (upsert) with table
  auto-create, replacing the staged-rename snapshot rewrite.
- :func:`run_upsert_delta` — the foreachBatch streaming sink as a
  transactional MERGE per micro-batch (same per-key batch dedup as
  ``run_upsert_snapshot``; the Delta log supplies atomicity that
  plain parquet had to fake with rename swaps).
- :func:`read_at_version` / :func:`latest_version` — time-travel
  reads: the lakehouse analogue of an ImpressionStore deposit pin
  (deposit id ↔ table version).

Everything raises :class:`DeltaUnavailable` when the package is
absent (this container), so callers fail loudly instead of silently
writing parquet where a transaction log was expected. The gated
pytest (tests/test_lakehouse.py) exercises upsert, replay idempotence
and time travel whenever the dependency exists.
"""
from __future__ import annotations

import importlib.util

from pyspark.sql import DataFrame, SparkSession


class DeltaUnavailable(RuntimeError):
    """delta-spark is not importable in this environment."""


def delta_available() -> bool:
    return importlib.util.find_spec("delta") is not None


def _require_delta():
    if not delta_available():
        raise DeltaUnavailable(
            "delta-spark is not installed; use the plain-parquet snapshot "
            "paths (streaming.stream.run_upsert_snapshot / ImpressionStore)"
        )
    from delta import tables as _tables  # noqa: PLC0415

    return _tables


def delta_builder_conf(builder):
    """Apply the Delta SQL extension + catalog to a SparkSession
    builder and resolve the matching JARs via
    ``configure_spark_with_delta_pip`` — the documented bootstrap for
    a pip-installed delta-spark. Returns the configured builder."""
    _require_delta()
    from delta import configure_spark_with_delta_pip  # noqa: PLC0415

    builder = builder.config(
        "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
    ).config(
        "spark.sql.catalog.spark_catalog",
        "org.apache.spark.sql.delta.catalog.DeltaCatalog",
    )
    return configure_spark_with_delta_pip(builder)


def is_delta_table(spark: SparkSession, path: str) -> bool:
    tables = _require_delta()
    return tables.DeltaTable.isDeltaTable(spark, path)


def merge_into(
    spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
) -> None:
    """Transactional upsert: MERGE INTO the Delta table at ``path`` on
    ``keys`` (update-all on match, insert-all otherwise), creating the
    table on first write. The transactional replacement for
    operators.merge.merge_upsert + the staged-rename overwrite.

    Duplicate keys in ``updates`` are rejected LOUDLY on EVERY call:
    Delta's own multiple-source-match error fires only when the
    duplicates MATCH an existing target row — duplicates landing via
    whenNotMatchedInsertAll (first write, or a new key) would persist
    silently and poison every later MERGE (Delta updates all matching
    target rows without error). So the invariant is checked here,
    unconditionally, before any write (dedup first, e.g. the
    streaming sink's per-key batch dedup).

    The duplicate check runs BEFORE the delta import gate: it is pure
    DataFrame code, so the loud-reject contract is enforceable (and
    testable) even where delta-spark is not installed."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"duplicate key {tuple(dup[0][k] for k in keys)!r} in the "
            "MERGE batch — upsert semantics require unique keys per "
            "batch (dedup first)"
        )
    tables = _require_delta()
    if not tables.DeltaTable.isDeltaTable(spark, path):
        updates.write.format("delta").save(path)
        return
    t = tables.DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.{k} <=> u.{k}" for k in keys)
    (
        t.alias("t")
        .merge(updates.alias("u"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def read_at_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Time-travel read — the lakehouse analogue of reading one
    ImpressionStore deposit by its content address."""
    _require_delta()
    return (
        spark.read.format("delta").option("versionAsOf", version).load(path)
    )


def latest_version(spark: SparkSession, path: str) -> int:
    tables = _require_delta()
    hist = tables.DeltaTable.forPath(spark, path).history(1)
    return int(hist.select("version").first()[0])


def run_upsert_delta(
    sdf: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    order_col: str | None = None,
):
    """Stream → transactional MERGE INTO a Delta table via
    foreachBatch: run_upsert_snapshot's contract (per-key batch dedup,
    checkpointed batch ids, idempotent replay — a re-delivered batch
    MERGEs the identical rows to the identical result) with the Delta
    log supplying atomicity instead of the staged-rename swap."""
    _require_delta()

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        from ..streaming.stream import _dedup_per_key  # noqa: PLC0415

        merge_into(
            batch_df.sparkSession,
            table_path,
            _dedup_per_key(batch_df, keys, order_col),
            keys,
        )

    return (
        sdf.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
