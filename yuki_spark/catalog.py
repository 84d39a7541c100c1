"""Catalog: named access to the test-data tables under an sf_dir.

Mirrors the reference's notion of versioned input storage
(`Yuki/kernel/impression_storage.py`): inputs are immutable parquet
artifacts addressed by name. Here a catalog root (``sf_dir``) maps
table name -> parquet path, registered as temp views so both the
DataFrame API and ``spark.sql`` can reach them.

Loads are job-free after the first load of each table per process:
the schema Spark infers on that first load (a one-task footer-read
job) is cached and supplied to later reads of the same files. The
cache is keyed on the table's part-file identity (relpath, size,
mtime, footer-tail bytes) plus the session confs that shape schema
inference, so rewriting any part file or changing such a conf
re-infers. It holds schemas and footer statistics, never data.
"""
from __future__ import annotations

import errno
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footers only (no Spark job) — the
    catalog-statistics estimate the adaptive LSH parameters consume
    (on a cluster this is the table-stats lookup). Handles a single
    file or a (possibly partitioned/nested) directory of part files;
    raises rather than return 0 for a layout with no parquet files —
    a silent 0 would collapse the adaptive parameters back to their
    minimums, reinstating the fixed-bucket blowup they prevent.
    Shares :func:`_scan_layout`'s per-version cache."""
    return _scan_layout(table_path(sf_dir, name))[0]


_PROBE_BYTES = 4096


def _tail_probe(full: str, size: int) -> str:
    """Hash of a file's last ``_PROBE_BYTES`` — for a parquet part this
    spans the footer (schema, row counts, column stats, page offsets),
    so regenerated content is caught even when size and mtime collide
    (coarse 1 s mtime filesystems). One seek+read, no data scan."""
    with open(full, "rb") as f:
        if size > _PROBE_BYTES:
            f.seek(-_PROBE_BYTES, os.SEEK_END)
        return hashlib.sha256(f.read(_PROBE_BYTES)).hexdigest()[:16]


FileIdentity = tuple[str, int, int, str] | tuple[str, str]


def part_identity(path: str) -> tuple[FileIdentity, ...]:
    """Identity of a table's files without scanning data: per file
    (relpath, byte size, mtime ns, footer-tail probe), sorted, with a
    ``("gone", relpath)`` entry for a file that vanished mid-walk (or
    a table path that does not exist). One walk serves every consumer
    that must notice an in-place rewrite — the schema cache, the scan
    layout stats and the artifact store's ``table_fingerprint``."""

    def ent(full: str, rel: str) -> FileIdentity:
        # stat→open is two syscalls: a part file vanishing in between
        # (concurrent compaction on a live table) must change the
        # identity, not crash every lookup.
        try:
            st = os.stat(full)
            return (rel, st.st_size, st.st_mtime_ns, _tail_probe(full, st.st_size))
        except OSError:
            return ("gone", rel)

    if not os.path.isdir(path):
        return (ent(path, os.path.basename(path)),)
    return tuple(
        ent(os.path.join(dirpath, fn), os.path.relpath(os.path.join(dirpath, fn), path))
        for dirpath, _dirs, files in sorted(os.walk(path))
        for fn in sorted(files)
    )


# Scan fan-out floors: minimum rows per task when the parquet layout
# itself cannot split (guide §2.2/§6 — a scan parallelizes at row-group
# grain, so a table written as one row group runs its whole
# scan + narrow pipeline + partial aggregation on ONE core no matter
# how many the cluster has). The floor encodes per-row downstream
# cost the optimizer cannot see: documents are tokenized (a ~50-token
# explode plus per-token work) or synthesized/decoded as media by
# every consumer and embeddings feed 64-dim vector arithmetic, so
# their rows are ~100x a plain columnar row; events rows carry a
# JSON props parse. Derived from the 100 MB-1 GB-per-task guidance
# scaled by bytes-of-work per row, not from any host's core count.
_ROWS_PER_TASK: dict[str, int] = {
    "documents": 512,
    "embeddings": 512,
    "events": 16384,
}
_DEFAULT_ROWS_PER_TASK = 1 << 16

# Which loads fan out when the caller does not say: documents rows
# are heavy for EVERY consumer (tokenize / media synth+decode), so
# the fan-out wins across that whole family; for the relational
# tables the benefit depends on the consumer (a pure aggregation
# parallelizes its partial-agg, while a join reshuffles by key
# immediately and the extra exchange is pure overhead — guide §2.4),
# so those callers opt in per query.
_FAN_OUT_DEFAULT: dict[str, bool] = {"documents": True}

# (rows, row-group scan units) per table path, with the part_identity
# they were read at — parquet FOOTER metadata only (the catalog-
# statistics surface; on a cluster this is the metastore/manifest
# lookup). Never caches data or results; an entry is used only while
# the identity still matches, so an in-place rewrite anywhere under
# the table (a nested partition included) re-derives the layout
# instead of sizing the fan-out from stale stats.
_LAYOUT_CACHE: dict[str, tuple[tuple, tuple[int, int]]] = {}


def _scan_layout(
    path: str, ident: tuple[FileIdentity, ...] | None = None
) -> tuple[int, int]:
    if ident is None:
        ident = part_identity(path)
    hit = _LAYOUT_CACHE.get(path)
    if hit is not None and hit[0] == ident:
        return hit[1]
    import pyarrow.parquet as pq

    isdir = os.path.isdir(path)
    rows, units, found = 0, 0, False
    for e in ident:
        if e[0] == "gone":  # no such table, or a part vanished mid-walk
            full = os.path.join(path, e[1]) if isdir else path
            raise FileNotFoundError(errno.ENOENT, os.strerror(errno.ENOENT), full)
        if isdir and not e[0].endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, e[0]) if isdir else path).metadata
        rows, units, found = rows + md.num_rows, units + md.num_row_groups, True
    if not found:
        raise FileNotFoundError(f"no parquet part files under {path}")
    _LAYOUT_CACHE[path] = (ident, (rows, units))
    return rows, units


def _fan_out(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    name: str,
    ident: tuple[FileIdentity, ...],
) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.2): when the file layout
    provides fewer splittable units (row groups) than the work wants
    tasks, round-robin repartition the scan output so the narrow
    pipeline above it (tokenize/explode/partial aggregation) uses the
    cluster. Sized from catalog statistics — ceil(rows / per-table
    floor), capped at defaultParallelism — so a 100 TB table (whose
    layout already yields thousands of units) is returned UNCHANGED:
    the exchange exists only where the data is small enough that it
    costs microseconds and buys the whole scan stage's parallelism.
    Filters/pruning still push through a Repartition node, and
    round-robin placement is deterministic (sortBeforeRepartition),
    so results are partitioning-invariant."""
    rows, units = _scan_layout(path, ident)
    floor = _ROWS_PER_TASK.get(name, _DEFAULT_ROWS_PER_TASK)
    target = min(
        spark.sparkContext.defaultParallelism, -(-rows // floor) if rows else 0
    )
    if target > units and target >= 2:
        return df.repartition(target)
    return df


# The session confs that shape parquet schema INFERENCE: the same
# files infer a different schema when any of them differs, so their
# values are part of a cached schema's key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# Spark's own inferred schema per (table path, schema confs), with the
# part_identity it was inferred at. Inference is a one-task Spark job
# (a footer read) — at catalog scale the whole cost of building a
# DataFrame, paid on EVERY load of an unchanged file. Holds
# StructTypes only, never data; an entry is used only while the
# identity still matches, so any rewrite of a part file re-infers.
# Never filled from pyarrow: only Spark's inference is trusted to
# match what an uncached read would see (nullability, NTZ/nanos).
_SCHEMA_CACHE: dict[tuple, tuple[tuple, StructType]] = {}


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fan_out: bool | None = None,
) -> DataFrame:
    """Load one table. Declarative scan: Catalyst prunes columns and
    pushes filters into the parquet reader downstream. ``fan_out``
    opts the scan in/out of :func:`_fan_out` (None → the per-table
    default: on for ``documents``, off otherwise).

    Job-free after the first load of a table version per process: the
    schema Spark inferred (one job) is cached and handed back to the
    reader on later loads. The cache is invalidated by any change to
    the table's part files (relpath, size, mtime or footer bytes, see
    :func:`part_identity`) or to a schema-inference conf; it never
    holds data."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Spark 4 defaults inferTimestampNTZ=true, so µs-without-tz
    # parquet (orders/lineitem dates) reads as TIMESTAMP_NTZ in a
    # fresh session — and as TIMESTAMP once anything flipped the conf:
    # an ORDER-DEPENDENT schema (r12 finding — the snapshot gate only
    # passed when an events load happened to run first). Pin it off
    # (runtime-settable), for ANY caller session.
    pins = {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
    if name == "events":
        # events.parquet has shipped as TIMESTAMP(NANOS) (which a
        # default session refuses to read) and as plain µs-without-tz.
        # The engine must behave identically under ANY caller-provided
        # SparkSession and either file flavor, so set the
        # (runtime-settable) escape hatch here, not only in our
        # session factory.
        pins["spark.sql.legacy.parquet.nanosAsLong"] = "true"
    confs = []
    for k in _SCHEMA_CONFS:
        v = spark.conf.get(k)
        # set only on a difference: no session-conf write per load
        # from thread-pooled builders once the session is pinned
        if k in pins and v != pins[k]:
            spark.conf.set(k, pins[k])
            v = pins[k]
        confs.append(v)
    path = table_path(sf_dir, name)
    ident = part_identity(path)
    key = (os.path.realpath(path), tuple(confs))
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == ident:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = (ident, df.schema)
    ts_type = dict(df.dtypes).get("ts") if name == "events" else None
    if ts_type == "bigint":
        # nanosAsLong=true surfaces the TIMESTAMP(NANOS) column as raw
        # nanos; truncate to µs exactly like DuckDB does on read.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # a session that pre-cached NTZ inference: reinterpret the
        # naive µs value as a *UTC* instant regardless of the caller
        # session's timezone
        df = ntz_as_utc_instant(df, "ts")
    if fan_out is None:
        fan_out = _FAN_OUT_DEFAULT.get(name, False)
    if fan_out:
        return _fan_out(spark, df, path, name, ident)
    return df


def ntz_as_utc_instant(df: DataFrame, colname: str) -> DataFrame:
    """Reinterpret a TIMESTAMP_NTZ column as UTC instants under ANY
    session timezone. A bare cast interprets the naive value in the
    *session* tz - which both shifts the instant by the tz offset and,
    in DST zones, mangles wall times inside a spring-forward gap (the
    local-time mapping is not total there). Instead the wall-clock
    fields are read off the naive value (all zone-free on NTZ) and
    rebuilt as epoch micros, so no session conf is read or written and
    concurrent callers cannot see each other's zone. Interval
    arithmetic such as ``epoch + (ts - epoch_ntz)`` is NOT zone-free:
    day intervals are added in the session tz (1 h off in summer)."""
    c = F.col(colname)
    micros = (
        F.unix_date(F.to_date(c)).cast("long") * 86_400_000_000
        + F.hour(c).cast("long") * 3_600_000_000
        + F.minute(c).cast("long") * 60_000_000
        + (F.date_part(F.lit("SECOND"), c) * 1_000_000).cast("long")
    )
    return df.withColumn(colname, F.timestamp_micros(micros))


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view named after itself."""
    out = {}
    for name in TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
