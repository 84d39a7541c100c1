"""Structured Streaming over the events schema.

The streaming twins of the batch queries in ``queries/events.py``:
- ``windowed_counts``: tumbling-window counts per event_type with a
  watermark for late data (twin of e3_hourly_rollup).
- ``session_stats``: custom stateful gap-sessionization via
  ``applyInPandasWithState`` (twin of e2_sessionization).

At scale these run as ``readStream`` on an object-store file source
(or Kafka) with checkpointing; tests drive them with the file source
over a temp directory and a memory sink, then assert equivalence
against the batch twin on the same rows.
"""
from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

SESSION_GAP_SEC = 30 * 60


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream with explicit schema (schema inference is
    disabled for streams at scale). ``max_files_per_trigger`` bounds
    micro-batch size — the file-source throttle; 1 forces
    one-file-per-batch replays (watermark advances between files)."""
    return _file_stream(spark, path, EVENT_SCHEMA, max_files_per_trigger)


def _file_stream(
    spark: SparkSession, path: str, schema: StructType, max_files_per_trigger: int
) -> DataFrame:
    """Parquet file-source stream with an explicit schema — the one
    reader behind every feed of this module."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def windowed_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour window counts/sums per event_type with
    watermarked late-data handling."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window counts per event_type: each event lands in
    window/slide overlapping windows; state is bounded by the
    watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id: duplicates arriving within
    the watermark horizon are dropped; state for ids older than the
    watermark is evicted (bounded memory — the piece a naive
    ``dropDuplicates`` lacks at scale)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_with_users(stream: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static
    dimension (broadcast each micro-batch; no stream-side state)."""
    return stream.join(F.broadcast(users), "user_id", "left")


def attribute_purchases(
    events: DataFrame, attribution_window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream join: attribute each purchase to same-user views
    within the preceding attribution window. Both sides carry
    watermarks and the join has a time-range predicate, so Spark
    bounds the buffered state on each side (the required shape for a
    stream-stream join to be runnable at all)."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "event_id", "value")
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")),
    ).select("user_id", "event_id", "purchase_ts", "value", "view_id", "view_ts")


def session_window_stats(stream: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Built-in session windows: Spark's native gap-merging aggregate
    (``F.session_window``) — the managed-state counterpart to the
    custom ``applyInPandasWithState`` sessionizer below. Works on both
    batch and streaming inputs with identical semantics."""
    gap = f"{SESSION_GAP_SEC} seconds"
    src = stream.withWatermark("ts", watermark) if stream.isStreaming else stream
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _session_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Gap-based session accumulator with *event-time* closure: a
    session is emitted when a later event from the same user exceeds
    the gap, or when the watermark passes ``session_end + gap``
    (event-time timeout). Processing speed never affects session
    boundaries — only event time does."""
    (user_id,) = key
    if state.hasTimedOut:
        start_us, end_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(end_us, unit="us")],
                "n_events": [n],
            }
        )
        return

    rows = pd.concat(list(pdfs)).sort_values("ts")
    gap_us = SESSION_GAP_SEC * 1_000_000
    # interval-merge, not a running end pointer: an in-watermark late
    # event may land BEFORE the open session (extend start backward)
    # or bridge two intervals — comparing only against end_us would
    # regress end below start and split one session into two
    intervals: list[list[int]] = []
    if state.exists:
        s0, e0, n0 = state.get
        intervals = [[s0, e0, n0]]
    for ts in rows["ts"]:
        t_us = int(pd.Timestamp(ts).value // 1000)
        merged = [t_us, t_us, 1]
        keep = []
        for s, e, c in intervals:
            if t_us < s - gap_us or t_us > e + gap_us:
                keep.append([s, e, c])
            else:
                merged = [min(merged[0], s), max(merged[1], e), merged[2] + c]
        keep.append(merged)
        keep.sort()
        intervals = keep
    # every interval but the latest is gap-closed by construction —
    # emit them now (same eager-split semantics as in-order input);
    # only the latest stays open in state
    out = [tuple(iv) for iv in intervals[:-1]]
    start_us, end_us, n = intervals[-1]
    state.update((start_us, end_us, n))
    # close when watermark passes the open session's end + gap
    state.setTimeoutTimestamp(end_us // 1000 + SESSION_GAP_SEC * 1000)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in out],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in out],
                "n_events": [c for _, _, c in out],
            }
        )


def session_stats(stream: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Custom stateful operator: per-user gap sessionization.

    Event-time timeouts require a watermark; the delay bounds how long
    late events are accepted before an open session is finalized."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_to_memory(sdf: DataFrame, name: str, mode: str = "update"):
    """Start a memory-sink query (tests/demos)."""
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def _dedup_per_key(df: DataFrame, keys: list[str], order_col: str | None = None) -> DataFrame:
    """Deterministic one-row-per-key pick (dropDuplicates is
    shuffle-order dependent; replayed batches must rebuild identical
    state): by ``order_col`` descending when given, else by the
    non-key columns descending. Shared by run_upsert_snapshot and
    run_corpus_ingest."""
    from pyspark.sql.window import Window

    ordering = (
        [F.col(order_col).desc()]
        if order_col
        else [F.col(c).desc() for c in df.columns if c not in keys]
    ) or [F.lit(1)]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for a storage path — works on any
    filesystem the session can reach (local, HDFS, object stores)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _heal_snapshot(spark: SparkSession, path: str) -> None:
    """Recover a snapshot from a :func:`_swap` crash window: a
    surviving ``.old`` beside a missing live directory is renamed back
    (the crash hit mid-swap; the batch that was being committed is
    uncheckpointed and will replay), and a ``.old`` beside a live
    directory is a post-swap leftover to discard."""
    fs, live = _fs_path(spark, path)
    _, old = _fs_path(spark, path + ".old")
    if fs.exists(old):
        if fs.exists(live):
            fs.delete(old, True)
        else:
            fs.rename(old, live)


def _read_snapshot_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet snapshot, returning None ONLY when the path does
    not exist (the legitimate first-batch state) — probed directly via
    the Hadoop FileSystem API, never by sniffing exception text (error
    wording drifts across Spark versions/locales, and an unrelated
    error containing the substring must not be mistaken for
    first-batch and get the snapshot overwritten). A directory that
    exists WITHOUT its ``_SUCCESS`` commit marker is a partial write
    from a crashed overwrite — fail loud rather than merge against a
    truncated snapshot and persist the loss. Interrupted
    :func:`_swap`s are healed first (see _heal_snapshot)."""
    _heal_snapshot(spark, path)
    fs, hpath = _fs_path(spark, path)
    if not fs.exists(hpath):
        return None
    _, marker = _fs_path(spark, path + "/_SUCCESS")
    if not fs.exists(marker):
        raise RuntimeError(
            f"snapshot {path!r} exists without a _SUCCESS commit marker — "
            "partial write from a crashed overwrite; refusing to read a "
            "possibly-truncated snapshot (restore it or delete the "
            "directory to restart from scratch)"
        )
    return spark.read.parquet(path)


def _stage(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to ``path``'s ``.staged`` sibling, verify its
    ``_SUCCESS`` marker, and read the staged copy back with the schema
    it was written from (no inference job)."""
    spark = df.sparkSession
    staged = path + ".staged"
    df.write.mode("overwrite").parquet(staged)
    fs, marker = _fs_path(spark, staged + "/_SUCCESS")
    if not fs.exists(marker):
        raise RuntimeError(f"staged rewrite {staged!r} missing _SUCCESS marker")
    return spark.read.schema(df.schema).parquet(staged)


def _swap(spark: SparkSession, path: str) -> None:
    """Rename ``path``'s staged copy into place through the ``.old``
    sibling that :func:`_heal_snapshot` recovers."""
    fs, live = _fs_path(spark, path)
    _, st = _fs_path(spark, path + ".staged")
    _, old = _fs_path(spark, path + ".old")
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(live):
        if not fs.rename(live, old):
            raise RuntimeError(f"could not stage out old snapshot {path!r}")
    if not fs.rename(st, live):
        raise RuntimeError(f"could not swap staged snapshot into {path!r}")
    if fs.exists(old):
        fs.delete(old, True)


def _commit(spark: SparkSession, snapshots, side=None) -> None:
    """Commit one micro-batch's snapshots — the ONE crash-consistency
    protocol of every snapshot loop in this module.

    ``snapshots`` is the batch's ordered [(path, frame)], primary
    first; ``side(*staged)`` (optional) derives further
    [(path, frame)] from the staged copies of those frames (sidecar
    and graph maintenance read the merged primary from there).

    Phase 1 writes every frame to its path's ``.staged`` sibling (see
    :func:`_stage`). Spark's delete-then-write overwrite is not
    atomic, so nothing is ever written into a live directory; and
    because no live file is touched in this phase, every frame may
    keep reading the live snapshots through its lineage — no
    checkpoint is needed to protect an overwrite. A failure here leaves
    every live snapshot intact and deletes the batch's ``.staged``
    copies before it re-raises; only a process killed mid-phase
    leaves a stale stage, which the next commit of that path
    overwrites.

    Phase 2 swaps the staged copies in, in the declared order, each by
    two renames through ``.old`` (:func:`_swap`). The one broken
    window of a swap — live renamed away, new not yet renamed in — is
    healed by :func:`_heal_snapshot` on the next read. A crash between
    two swaps leaves a prefix of the snapshots new and the rest one
    batch stale. The batch is then uncommitted in the stream
    checkpoint, so it replays, and every loop's batch function is
    idempotent against its new primary (keyed upserts, anti-joins,
    retract-then-re-add), so the replay rewrites exactly the state an
    uninterrupted run leaves. Until then a stale derived snapshot only
    names rows the primary no longer has (or lacks rows it has); the
    loops' reads verify against the primary. The primary itself
    cannot be derived back, which is why it swaps first.

    Renames are single-FS metadata ops here; on an object store
    without atomic rename this is where a lakehouse table's
    transaction log takes over."""
    snapshots = list(snapshots)
    try:
        staged = [_stage(df, path) for path, df in snapshots]
        if side is not None:
            extra = list(side(*staged))
            snapshots += extra
            for path, df in extra:
                _stage(df, path)
    except BaseException:
        for path, _ in snapshots:
            fs, st = _fs_path(spark, path + ".staged")
            fs.delete(st, True)  # false, not an error, when never written
        raise
    for path, _ in snapshots:
        _swap(spark, path)


def _start(sdf: DataFrame, apply_batch, checkpoint: str):
    """Run ``apply_batch`` over every available micro-batch of ``sdf``
    with its offsets and commits in ``checkpoint``."""
    return (
        sdf.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream on the documents schema — the ingest feed
    for :func:`run_corpus_ingest`."""
    return _file_stream(spark, path, DOCUMENT_SCHEMA, max_files_per_trigger)


def _run_dedup_ingest(
    sdf: DataFrame,
    primary_path: str,
    index_path: str,
    checkpoint: str,
    *,
    key: str,
    index_keys: list[str],
    prepare,
    cross_dups,
    rebuild_index,
    primary_name: str,
    maintain=None,
):
    """Shared foreachBatch skeleton of the two continuous-ingest
    loops (documents :func:`run_corpus_ingest`, embeddings
    :func:`run_embedding_ingest`):

    - ``prepare(batch)`` -> (canonicalized batch, its index rows,
      extra) — within-batch dedup included; all three eagerly
      checkpointed by the callback.
    - ``cross_dups(batch, index_rows, extra, index, primary)`` ->
      DataFrame[key] of batch keys duplicating ingested content
      (self-matches of a replayed batch already excluded); eagerly
      checkpointed here, before any snapshot is staged.
    - ``rebuild_index(primary)`` — the index is DERIVED data: a crash
      between the two swaps is healed by re-deriving it.
    - ``maintain(spark, novel, merged_primary)`` (optional) ->
      [(path, DataFrame)] of derived side-deposits committed after
      the primary and index (e.g. kNN graph-ladder maintenance);
      ``merged_primary`` is the staged copy (see :func:`_commit`).

    A missing PRIMARY while the index exists fails loud (primary data
    cannot be derived back; plain parquet has no transaction log — a
    lakehouse table makes the window atomic). Crash consistency:
    :func:`_commit`."""
    from ..operators.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch, index_rows, extra = prepare(batch_df)
        primary = _read_snapshot_or_none(spark, primary_path)
        index = _read_snapshot_or_none(spark, index_path)
        if primary is None and index is not None:
            raise RuntimeError(
                f"{primary_name} snapshot {primary_path!r} missing while "
                f"index {index_path!r} exists — refusing to rebuild from "
                "one batch"
            )
        if primary is not None:
            if index is None:
                index = rebuild_index(primary)
            # computed once: the primary and index stages would each
            # re-run the whole cross-batch verification otherwise
            dup = cross_dups(batch, index_rows, extra, index, primary).localCheckpoint(
                eager=True
            )
            novel = batch.join(dup, key, "left_anti")
            merged_primary = merge_upsert(primary, novel, [key])
            merged_index = merge_upsert(
                index, index_rows.join(dup, key, "left_anti"), index_keys
            )
        else:
            novel = batch
            merged_primary = novel
            merged_index = index_rows
        _commit(
            spark,
            [(primary_path, merged_primary), (index_path, merged_index)],
            side=None if maintain is None else lambda mp, _mi: maintain(spark, novel, mp),
        )

    return _start(sdf, apply_batch, checkpoint)


def _dhash_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): the d50 perceptual-hash rows of a document frame
    — a pure PER-DOCUMENT function (token histogram → real PNG →
    decode → dHash), which is exactly what makes the persisted dHash
    sidecar maintainable under churn: anti-join on retract, one batch
    pass on ingest, maintained ≡ rebuilt row-for-row."""
    from ..operators import multimodal

    # fused synth→decode→hash (one Arrow pass; rules identical to the
    # composed path — multimodal's shared per-row helpers)
    return multimodal.dhash56_from_docs(docs).select("doc_id", "sh")


def _audio_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, seg, ah): the d55 audio-fingerprint rows of a document
    frame — pure per-document like :func:`_dhash_rows` (token stream →
    real WAV → decode → per-segment energy-envelope hash), so the
    same sidecar discipline applies. The segment count is the d55
    clip grain (multimodal.AUDIO_SEGMENTS — one constant, shared with
    the query and its oracle, so the maintained sidecar can't drift
    from the deposit grain)."""
    from ..operators import multimodal

    # fused synth→decode→fingerprint (one Arrow pass)
    return multimodal.audio_fingerprint56_from_docs(
        docs, n_segments=multimodal.AUDIO_SEGMENTS
    )


AUDIO_SILENT_SEG = -1


def _audio_sidecar_rows(docs: DataFrame) -> DataFrame:
    """TOTAL per-document audio sidecar rows: the d55 fingerprint rows
    for docs with tokens, plus one SENTINEL row ``(doc_id,
    AUDIO_SILENT_SEG, 0)`` for token-less docs (synth_token_wav drops
    them — real segments are always seg ≥ 0, so the sentinel can't
    collide). Totality is what makes sidecar COVERAGE a pure keyed
    projection: every corpus doc owns rows, so the reconcile's
    uncovered set is one doc_id anti-join — no per-batch corpus
    re-tokenize to rediscover which docs are eligible (the r13
    eligibility filter re-paid a corpus-linear tokenize every
    maintained batch; r14 advice). The tokenize that SPLITS
    eligible/silent here runs only over the docs handed in — the
    uncovered set on maintained batches, the whole corpus only on
    heal."""
    from ..functions import tokens

    has_tokens = F.size(F.filter(tokens("text"), lambda t: t != "")) > 0
    silent = docs.where(~has_tokens).select(
        "doc_id",
        F.lit(AUDIO_SILENT_SEG).cast("int").alias("seg"),
        F.lit(0).cast("long").alias("ah"),
    )
    return _audio_rows(docs.where(has_tokens)).unionByName(silent)


def _reconcile_doc_sidecar(snap, batch_ids, merged_corpus: DataFrame, rows_fn):
    """Reconcile a pure-per-document sidecar against the corpus it
    derives from: missing snapshot → rebuild whole; otherwise drop
    the CURRENT BATCH's rows first (an upserted doc's rows must be
    recomputed from its NEW content — keeping them because the id is
    covered would serve stale hashes), prune rows for departed docs
    (keyed semi join), and recompute exactly the uncovered docs
    (keyed anti join — the batch when healthy, plus any gap a batch
    run without the sidecar argument left). ``rows_fn`` must be TOTAL
    (emit ≥ 1 row for every doc — see :func:`_audio_sidecar_rows`),
    which is what keeps the whole reconcile keyed: the expensive
    synth→decode→hash pass AND any eligibility tokenize stay bounded
    to the uncovered set; untouched covered docs keep their rows
    verbatim (the rows are a pure function of the document)."""
    if snap is None:
        return rows_fn(merged_corpus)
    valid = snap.join(batch_ids, "doc_id", "left_anti").join(
        merged_corpus.select("doc_id"), "doc_id", "left_semi"
    )
    uncovered = merged_corpus.join(
        valid.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    return valid.unionByName(rows_fn(uncovered))


def run_corpus_ingest(
    sdf: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    dhash_path: "str | None" = None,
    audio_path: "str | None" = None,
):
    """Continuously ingest documents with cross-batch near-dedup — the
    end-to-end production shape for a growing pretraining corpus:
    every micro-batch (1) canonicalizes within itself (doc_id dedup +
    MinHash-LSH near-dup drop, keeping the smaller doc_id of each
    verified pair), (2) checks the survivors against EVERYTHING
    ingested so far via the persisted band index
    (operators/dedup.incremental_neardup — a batch-sized band-key
    join, never a corpus re-dedup), and (3) MERGEs the novel docs
    into the corpus snapshot and their band rows into the index
    snapshot, both doc-keyed upserts so a replayed batch rewrites the
    identical state (idempotent sink; crash consistency:
    :func:`_commit`).

    With ``dhash_path`` / ``audio_path`` set, the d50 perceptual-hash
    and d55 audio-fingerprint deposits are maintained as SIDE
    deposits per batch (r13 — the _buckets sidecar discipline on the
    pure-per-document families, closing the last rebuild-on-churn
    deposits the r12 verdict named): the rows are pure functions of
    each document, so every maintained batch RECONCILES the sidecar
    against the merged corpus (prune departed docs by keyed semi
    join, recompute exactly the uncovered set — the novel batch when
    healthy, plus any gap or dead row a batch run without the
    argument left) and the result equals a from-scratch recompute
    over the surviving corpus row-for-row (pinned in tests). Missing
    sidecar → derived-data heal from the merged corpus.

    Scale notes: the per-batch snapshot rewrite is the plain-parquet
    stand-in for a transactional MERGE — on a lakehouse table
    (Delta/Iceberg) the merges become real MERGE INTO statements and
    the corpus is never rewritten; the index join cost is
    O(batch × matching keys) regardless of corpus size."""
    from ..operators import dedup as dd

    def prepare(batch_df: DataFrame):
        batch = _dedup_per_key(batch_df, ["doc_id"]).localCheckpoint(eager=True)
        # ONE tokenization + MinHash pass per batch: ts/bands feed the
        # within-batch self-join, the cross-batch index check, AND the
        # novel docs' new index rows
        ts = dd.token_sets(batch).localCheckpoint(eager=True)
        bands = dd.band_index(ts).localCheckpoint(eager=True)
        intra = (
            dd.minhash_pairs_from(ts, bands, threshold)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        batch = batch.join(intra, "doc_id", "left_anti")
        ts = ts.join(intra, "doc_id", "left_anti")
        bands = bands.join(intra, "doc_id", "left_anti")
        return batch, bands, ts

    def cross_dups(batch, bands, ts, index, corpus):
        return (
            dd.incremental_neardup(
                batch, index, corpus, threshold, new_ts=ts, new_bands=bands
            )
            # a replayed batch's docs are already deposited: their
            # self-match must not re-classify them as duplicates
            .where(F.col("new_id") != F.col("indexed_id"))
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )

    sidecars = [
        (p, cols, fn)
        for p, cols, fn in (
            (dhash_path, ["doc_id", "sh"], _dhash_rows),
            (audio_path, ["doc_id", "seg", "ah"], _audio_sidecar_rows),
        )
        if p is not None
    ]

    def maintain(spark, novel, merged_corpus):
        side = []
        for path, cols, fn in sidecars:
            snap = _read_snapshot_or_none(spark, path)
            rows = _reconcile_doc_sidecar(
                None if snap is None else snap.select(*cols),
                novel.select("doc_id"),
                merged_corpus,
                fn,
            )
            side.append((path, rows))
        return side

    return _run_dedup_ingest(
        sdf,
        corpus_path,
        index_path,
        checkpoint,
        key="doc_id",
        index_keys=["doc_id", "band"],
        prepare=prepare,
        cross_dups=cross_dups,
        rebuild_index=lambda corpus: dd.band_index(dd.token_sets(corpus)),
        primary_name="corpus",
        maintain=maintain if sidecars else None,
    )


def read_retraction_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of doc_id retraction requests — the takedown
    feed for :func:`run_corpus_retract` / :func:`run_corpus_label_retract`."""
    schema = StructType([StructField("doc_id", LongType())])
    return _file_stream(spark, path, schema, max_files_per_trigger)


def _run_retract(
    sdf: DataFrame,
    primary_path: str,
    index_path: str,
    checkpoint: str,
    *,
    key: str,
    rebuild_index,
    remove_from_index,
    maintain,
):
    """Shared foreachBatch skeleton of the three retraction loops
    (:func:`run_corpus_retract`, :func:`run_corpus_label_retract`,
    :func:`run_embedding_retract`): dedupe the batch's ``key`` ids,
    read the primary (none yet → nothing to retract), read the index
    or re-derive it with ``rebuild_index(primary)``, anti-join the ids
    out of the primary and ``remove_from_index(index, ids)``, then
    commit both plus whatever ``maintain(ids, primary,
    merged_primary)`` returns as [(path, DataFrame)] side snapshots
    (``merged_primary`` is the staged copy). Every step is
    an anti-join or a repair of exactly the touched rows, so a
    replayed batch rewrites identical snapshots. Crash consistency:
    :func:`_commit`."""

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ids = _dedup_per_key(batch_df.select(key), [key]).localCheckpoint(eager=True)
        primary = _read_snapshot_or_none(spark, primary_path)
        if primary is None:
            return  # nothing ingested yet — retracting nothing
        index = _read_snapshot_or_none(spark, index_path)
        if index is None:
            index = rebuild_index(primary)  # the index is DERIVED data
        _commit(
            spark,
            [
                (primary_path, primary.join(ids, key, "left_anti")),
                (index_path, remove_from_index(index, ids)),
            ],
            side=lambda mp, _mi: maintain(ids, primary, mp),
        )

    return _start(sdf, apply_batch, checkpoint)


def run_corpus_retract(
    sdf: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    dhash_path: "str | None" = None,
    audio_path: "str | None" = None,
):
    """Continuous corpus RETRACTION — the takedown/GDPR-erasure twin of
    :func:`run_corpus_ingest` (r10): each micro-batch of doc_ids is
    removed from the corpus snapshot (keyed anti-join) and its band
    rows dropped from the persisted near-dup index
    (operators/dedup.remove_from_index), so the maintained state after
    any ingest/retract interleaving equals a from-scratch build over
    the surviving corpus (tested) — and a RE-INGESTED copy of retracted
    content is admitted as novel again, because nothing of the removed
    doc survives in the index.

    Idempotent by construction: every step is an anti-join, so a
    replayed batch removes nothing new and rewrites identical
    snapshots (no batch-id header needed; crash consistency:
    :func:`_commit` — stale index rows for absent docs are harmless
    because incremental_neardup's exact verification joins the
    CORPUS). A retraction arriving before anything was ingested is a
    no-op. Batch-side label artifacts are the consumer's job:
    operators/dedup.relabel_after_removal recomputes CC labels for
    exactly the components that lost a member. With
    ``dhash_path`` / ``audio_path`` set, the d50 perceptual-hash and
    d55 audio-fingerprint sidecars are reconciled against the
    surviving corpus (r13; see :func:`run_corpus_ingest`).

    Scale shape: per batch two keyed anti-joins sized by the deletion
    batch (AQE broadcasts it) — the corpus text is never re-tokenized
    and the index never rebuilt. The snapshot rewrites are the
    plain-parquet stand-in for transactional deletes; on a lakehouse
    table they become DELETE WHERE / MERGE."""
    from ..operators import dedup as dd

    def maintain(ids, _corpus, merged_corpus):
        spark = ids.sparkSession
        side = []
        for path in (dhash_path, audio_path):
            dsnap = None if path is None else _read_snapshot_or_none(spark, path)
            # sidecar rows are pure per-document functions: retract
            # RECONCILES by one keyed semi join against the surviving
            # corpus (r13 — the sidecar discipline on the d50/d55
            # deposits), which drops the batch ids AND any dead rows
            # a mixed-mode history left behind. Coverage gaps (docs
            # never hashed) heal on the next ingest batch; a missing
            # sidecar is nothing to maintain.
            if dsnap is not None:
                side.append(
                    (path, dsnap.join(merged_corpus.select("doc_id"), "doc_id", "left_semi"))
                )
        return side

    return _run_retract(
        sdf,
        corpus_path,
        index_path,
        checkpoint,
        key="doc_id",
        rebuild_index=lambda corpus: dd.band_index(dd.token_sets(corpus)),
        remove_from_index=dd.remove_from_index,
        maintain=maintain,
    )


def run_corpus_label_ingest(
    sdf: DataFrame,
    corpus_path: str,
    index_path: str,
    pairs_path: str,
    labels_path: str,
    checkpoint: str,
    threshold: float = 0.8,
):
    """KEEP-ALL near-dup bookkeeping ingest (r11): the labeling
    alternative to :func:`run_corpus_ingest`'s drop-duplicates policy
    — every document is kept, and the pipeline instead maintains the
    near-dup PAIR table and the connected-component LABEL table (the
    d11/d20 artifacts) continuously, so a downstream consumer picks
    representatives at read time (d20's apply step) with labels that
    are always current. Per micro-batch:

    1. within-batch pairs (one tokenize + MinHash pass feeds the
       intra check, the cross check AND the new index rows),
    2. cross-batch pairs against the PERSISTED band index
       (dedup.incremental_neardup — batch-sized band join, the corpus
       is never re-deduped; replayed batches' self-matches excluded),
    3. keyed upserts of docs/bands/pairs, then the label table is
       incrementally relabeled (dedup.relabel_after_addition —
       condensed CC over the batch-sized new-edge graph; merges
       across components land at the joint min-id, replayed edges
       condense to self-loops so replay is a no-op).

    A batch doc whose doc_id ALREADY EXISTS in the corpus is an
    UPDATE (or a replay): its old band rows, pairs and label edges
    describe text that is being replaced, so the loop first RETRACTS
    the updated ids from the index/pairs/labels views (surviving_pairs
    + relabel_after_removal — batch-sized), then runs the cross check
    and the additive relabel against the retracted state. A replayed
    batch retracts-then-re-adds identical edges, landing on identical
    snapshots (idempotent); a genuine content change drops the stale
    pairs a plain upsert would have kept clustering on.

    The maintained labels provably equal a from-scratch
    dedup_clusters(minhash_lsh_pairs(corpus)) build after any
    ingest/update/retract interleaving (pinned in tests). Heal rules:
    index, pairs and labels are DERIVED data — a missing snapshot
    rebuilds from the corpus (one-time cost, loud in the plan, never
    silent divergence); a missing CORPUS while derived snapshots
    exist fails loud (primary data cannot be derived back — the
    shared skeleton's rule). Crash consistency: :func:`_commit`.
    Scale shape: everything per batch is batch-sized
    (band joins, condensed CC) except the keyed upsert rewrites,
    which are the plain-parquet stand-in for lakehouse MERGEs."""
    from ..operators import dedup as dd
    from ..operators.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = _dedup_per_key(batch_df, ["doc_id"]).localCheckpoint(eager=True)
        ts = dd.token_sets(batch).localCheckpoint(eager=True)
        bands = dd.band_index(ts).localCheckpoint(eager=True)
        intra = dd.minhash_pairs_from(ts, bands, threshold).select(
            "doc_a", "doc_b", "jac"
        )
        corpus = _read_snapshot_or_none(spark, corpus_path)
        if corpus is None:
            for dpath in (index_path, pairs_path, labels_path):
                # the snapshot reader, not a raw exists(): it heals a
                # mid-swap .old first (a stranded derived snapshot must
                # still trip this guard) and fails loud on a marker-less
                # partial write — same semantics as _run_dedup_ingest's
                if _read_snapshot_or_none(spark, dpath) is not None:
                    raise RuntimeError(
                        f"corpus snapshot {corpus_path!r} missing while "
                        f"derived snapshot {dpath!r} exists — refusing "
                        "to reinitialize the pair/label history from "
                        "one batch (primary data cannot be derived back)"
                    )
            new_pairs = _dedup_per_key(intra, ["doc_a", "doc_b"]).localCheckpoint(
                eager=True
            )
            merged = [batch, bands, new_pairs, dd.dedup_clusters(new_pairs)]
        else:
            index = _read_snapshot_or_none(spark, index_path)
            if index is None:
                index = dd.band_index(dd.token_sets(corpus))
            pairs, labels = _read_pairs_and_labels(
                spark, pairs_path, labels_path, corpus, threshold
            )
            # UPDATED (or replayed) ids: retract their stale state
            # first — old band rows would cross-match other docs
            # against text being replaced, and old pairs would keep
            # the label graph clustered on vanished content
            upd = (
                batch.select("doc_id")
                .join(corpus.select("doc_id"), "doc_id", "left_semi")
                .localCheckpoint(eager=True)
            )
            index = dd.remove_from_index(index, upd)
            # the relabel reads the PRE-removal pair table; compute it
            # before shrinking pairs to the survivors
            labels = dd.relabel_after_removal(labels, pairs, upd)
            pairs = dd.surviving_pairs(pairs, upd)
            cross = (
                dd.incremental_neardup(
                    batch,
                    index,
                    corpus.join(upd, "doc_id", "left_anti"),
                    threshold,
                    new_ts=ts,
                    new_bands=bands,
                )
                # updated ids were retracted above, so a replayed doc
                # cannot self-match through its live index rows — but a
                # STALE row for a crash-retracted doc could still echo
                # its id back; never emit a self-pair
                .where(F.col("new_id") != F.col("indexed_id"))
                .select(
                    F.least("new_id", "indexed_id").alias("doc_a"),
                    F.greatest("new_id", "indexed_id").alias("doc_b"),
                    "jac",
                )
            )
            new_pairs = _dedup_per_key(
                intra.unionByName(cross), ["doc_a", "doc_b"]
            ).localCheckpoint(eager=True)
            merged = [
                merge_upsert(corpus, batch, ["doc_id"]),
                merge_upsert(index, bands, ["doc_id", "band"]),
                merge_upsert(pairs, new_pairs, ["doc_a", "doc_b"]),
                dd.relabel_after_addition(labels, new_pairs.select("doc_a", "doc_b")),
            ]
        _commit(
            spark, zip((corpus_path, index_path, pairs_path, labels_path), merged)
        )

    return _start(sdf, apply_batch, checkpoint)


def run_corpus_label_retract(
    sdf: DataFrame,
    corpus_path: str,
    index_path: str,
    pairs_path: str,
    labels_path: str,
    checkpoint: str,
    threshold: float = 0.8,
):
    """Takedown twin of :func:`run_corpus_label_ingest` (r11): each
    micro-batch of doc_ids is anti-joined out of the corpus and band
    index, its pairs dropped (dedup.surviving_pairs), and the label
    table incrementally relabeled (dedup.relabel_after_removal —
    only components that LOST a member recompute, splits and
    evaporation included), so the maintained labels equal a
    from-scratch build over the survivors at every point of the
    interleaving (pinned in tests). Idempotent by construction
    (anti-joins + the relabel of an already-shrunk component is a
    no-op); same heal rules as the ingest loop, crash consistency:
    :func:`_commit`. ``threshold`` is only consulted on the pairs heal
    path and must match the ingest loop's."""
    from ..operators import dedup as dd

    def maintain(ids, corpus, _merged_corpus):
        pairs, labels = _read_pairs_and_labels(
            ids.sparkSession, pairs_path, labels_path, corpus, threshold
        )
        # the relabel reads the PRE-removal pair table
        return [
            (pairs_path, dd.surviving_pairs(pairs, ids)),
            (
                labels_path,
                dd.relabel_after_removal(labels, pairs.select("doc_a", "doc_b"), ids),
            ),
        ]

    return _run_retract(
        sdf,
        corpus_path,
        index_path,
        checkpoint,
        key="doc_id",
        rebuild_index=lambda corpus: dd.band_index(dd.token_sets(corpus)),
        remove_from_index=dd.remove_from_index,
        maintain=maintain,
    )


def _read_pairs_and_labels(spark, pairs_path, labels_path, corpus, threshold):
    """The pair and label snapshots of the keep-all loops, each
    re-derived from ``corpus`` when missing (DERIVED data)."""
    from ..operators import dedup as dd

    pairs = _read_snapshot_or_none(spark, pairs_path)
    if pairs is None:
        pairs = dd.minhash_lsh_pairs(corpus, threshold).select("doc_a", "doc_b", "jac")
    labels = _read_snapshot_or_none(spark, labels_path)
    if labels is None:
        labels = dd.dedup_clusters(pairs.select("doc_a", "doc_b"))
    return pairs, labels


EMBEDDING_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def read_embedding_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream on the embeddings schema — the ingest feed
    for :func:`run_embedding_ingest`."""
    return _file_stream(spark, path, EMBEDDING_SCHEMA, max_files_per_trigger)


def run_embedding_ingest(
    sdf: DataFrame,
    vectors_path: str,
    index_path: str,
    checkpoint: str,
    threshold: float = 0.35,
    bits: int = 8,
    graph_paths: "Sequence[tuple[str, int, int]] | None" = None,
):
    """Continuously ingest embedding vectors with cross-batch cosine
    near-dedup — the vector-side twin of :func:`run_corpus_ingest`
    (the shape a growing retrieval/ANN corpus runs): every micro-batch
    (1) canonicalizes within itself (vec_id dedup + sign-LSH cosine
    near-dup drop, keeping the smaller vec_id of each verified pair),
    (2) checks the survivors against EVERYTHING ingested so far via
    the persisted (vec_id, band, bucket) index — a batch-sized bucket
    equi-join, never a corpus re-score; candidate pairs are verified
    with the family's exact-int rounded-9 cosine JVM-side, and
    (3) MERGEs the novel vectors into the vectors snapshot and their
    bucket rows into the index snapshot, both keyed upserts so a
    replayed batch rewrites identical state (idempotent sink).

    ``graph_paths`` (path, k, level_mod) optionally keeps persisted
    kNN graph-ladder deposits current as novel vectors land — each
    level runs RETRACT-then-INGEST (knn_graph_retract then
    knn_graph_ingest) so replayed or updated vec_ids shed their stale
    edges before their current versions merge in; new vertices get an
    exact neighborhood, existing vertices re-cut top-k from current
    edges ∪ batch scores. The retraction twin is
    run_embedding_retract's graph_paths. A serving loop therefore
    never descends a ladder that predates the corpus. ``bits`` is
    FIXED for the index lifetime (see similarity.nd_bucket_rows) — an
    adaptive width would shear the index as the corpus grows. Scale
    notes: like the document ingest, the snapshot rewrite is the
    plain-parquet stand-in for a lakehouse MERGE INTO; the bucket join
    costs O(batch × colliding rows) regardless of corpus size, and the
    verification joins are keyed on vec_id (SMJ-able at any scale).
    Crash consistency: :func:`_commit`."""
    from ..operators import similarity as sim

    def prepare(batch_df: DataFrame):
        batch = _dedup_per_key(batch_df, ["vec_id"]).localCheckpoint(eager=True)
        # ONE scaling + bucket-UDF pass per batch: the signatures feed
        # the within-batch check, the cross-batch index join, AND the
        # novel vectors' new index rows
        sig = sim.nd_signatures(batch, bits).localCheckpoint(eager=True)
        bands = sig.select("vec_id", "band", "bucket")
        intra = (
            sim.cosine_neardup_pairs_from(sig, threshold)
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        batch = batch.join(intra, "vec_id", "left_anti")
        bands = bands.join(intra, "vec_id", "left_anti")
        return batch, bands, None

    def cross_dups(batch, bands, _extra, index, vectors):
        cand = (
            bands.join(
                index.select(
                    F.col("vec_id").alias("indexed_id"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            # a replayed batch's vectors are already deposited: their
            # self-match must not re-classify them as duplicates
            .where(F.col("vec_id") != F.col("indexed_id"))
            .select(F.col("vec_id").alias("new_id"), "indexed_id")
            .distinct()
        )
        nsv = batch.select(
            F.col("vec_id").alias("new_id"),
            sim.scaled("embedding").alias("nv"),
        ).withColumn("nn", sim.int_dot(F.col("nv"), F.col("nv")))
        isv = vectors.select(
            F.col("vec_id").alias("indexed_id"),
            sim.scaled("embedding").alias("iv"),
        ).withColumn("in_", sim.int_dot(F.col("iv"), F.col("iv")))
        return (
            cand.join(nsv, "new_id")
            .join(isv, "indexed_id")
            .withColumn(
                "cosine",
                F.round(
                    sim.cosine_from_ints(
                        sim.int_dot(F.col("nv"), F.col("iv")),
                        F.col("nn"),
                        F.col("in_"),
                    ),
                    9,
                ),
            )
            .where(F.col("cosine") >= threshold)
            .select(F.col("new_id").alias("vec_id"))
            .distinct()
        )

    def maintain(spark, novel, merged_vectors):
        side = []
        nb_all = novel.select("vec_id", "embedding").localCheckpoint(eager=True)
        for gpath, graph, gk, gmod, grepair in _graph_levels(spark, graph_paths):
            nb = _level(nb_all, gmod)
            if nb.isEmpty():
                continue  # no level members in this batch — the
                # deposit is already exact over the unchanged level
            mem = _level(merged_vectors, gmod)
            # retract-then-ingest: a replayed or UPDATED vec_id is
            # already a graph vertex, and its stale edges describe an
            # embedding that may no longer exist — knn_graph_ingest's
            # merge is only exact over ids new to the pool, so first
            # remove the batch ids (exact re-rank of any vertex that
            # pointed at them, over the pool WITHOUT the batch), then
            # insert their current versions. Brand-new ids make the
            # retract a no-op (nothing removed, nobody touched).
            ids = nb.select("vec_id")
            mem_wo = mem.join(ids, "vec_id", "left_anti")
            kw_r = kw_i = {}
            buckets = []
            if grepair == "lsh":
                # append the batch bucketed at the sidecar's FROZEN
                # width — a pure per-vector function, so maintained ≡
                # rebuilt at fixed width
                btbl, np_ = _lsh_buckets(spark, gpath, mem_wo)
                btbl_full = btbl.unionByName(
                    sim._sign_bucketed(nb, np_).select("vec_id", "bucket")
                ).localCheckpoint(eager=True)
                kw_r = dict(n_planes=np_, bucketed=btbl)
                kw_i = dict(n_planes=np_, bucketed=btbl_full)
                buckets = [_buckets_snapshot(gpath, btbl_full, np_)]
            g1 = sim.knn_graph_retract(
                mem_wo, graph, ids, k=gk, members=mem_wo, repair=grepair, **kw_r
            )
            g2 = sim.knn_graph_ingest(g1, nb, k=gk, members=mem, repair=grepair, **kw_i)
            side += [(gpath, g2), *buckets]
        return side

    return _run_dedup_ingest(
        sdf,
        vectors_path,
        index_path,
        checkpoint,
        key="vec_id",
        index_keys=["vec_id", "band"],
        prepare=prepare,
        cross_dups=cross_dups,
        rebuild_index=lambda vectors: sim.nd_bucket_rows(vectors, bits),
        primary_name="vectors",
        maintain=maintain if graph_paths else None,
    )


def _graph_levels(spark: SparkSession, graph_paths):
    """(path, graph, k, level_mod, repair) of every BUILT deposit in
    ``graph_paths`` — specs are (path, k, mod) or (path, k, mod,
    repair); a deposit not built yet has nothing to maintain.
    repair="lsh" routes the per-batch graph maintenance through the
    s11 bucket machinery — the ground-level (mod=1) choice at scale,
    bounding per-batch scores independent of corpus size; the default
    "exact" keeps the maintained ≡ rebuilt hash invariant the bounded
    demo grains pin."""
    for gspec in graph_paths or []:
        gpath, gk, gmod = gspec[:3]
        graph = _read_snapshot_or_none(spark, gpath)
        if graph is not None:
            yield gpath, graph, gk, gmod, gspec[3] if len(gspec) > 3 else "exact"


def _level(vectors: DataFrame, mod: int) -> DataFrame:
    """The members of a ladder level: vec_id % mod == 0 (all when mod ≤ 1)."""
    return vectors if mod <= 1 else vectors.where(F.col("vec_id") % mod == 0)


def _lsh_buckets(spark: SparkSession, gpath: str, pool: DataFrame):
    """(bucket table, n_planes) of a repair="lsh" graph deposit: its
    bucket SIDECAR (``gpath + "_buckets"``, which removes the
    per-batch plane-dot scan) read or healed over ``pool`` — the level
    members without the batch ids (see :func:`_lsh_bucket_sidecar`) —
    and checkpointed: it feeds the repair and the sidecar rewrite."""
    btbl, np_ = _lsh_bucket_sidecar(spark, gpath + "_buckets", pool)
    return btbl.localCheckpoint(eager=True), np_


def _buckets_snapshot(gpath: str, btbl: DataFrame, np_: int):
    """(path, frame) rewrite of a graph deposit's bucket sidecar."""
    return gpath + "_buckets", btbl.withColumn("n_planes", F.lit(np_).cast("int"))


def _lsh_bucket_sidecar(
    spark: SparkSession, path: str, pool: DataFrame
):
    """Read (or heal) the persisted LSH bucket sidecar of a
    repair="lsh" graph deposit: (vec_id, bucket, n_planes) rows, one
    per pool vector, at the FIXED plane width chosen when the sidecar
    was first built (similarity._lsh_pool's fixed-width contract —
    the deposit that removes the per-batch plane-dot scan from graph
    maintenance). Missing or empty → DERIVED-data heal: rebuild from
    the given pool at adaptive_planes(pool size). A PARTIAL sidecar
    (e.g. the deposit was advanced with repair="exact" for some
    batches — those never touch the sidecar — then switched back to
    "lsh") is healed too: pool vectors absent from the sidecar are
    signed at the FROZEN width and appended, because _lsh_pool's
    inner join would otherwise silently drop them from the repair
    candidate pool with no signal (only TOUCHED missing vertices trip
    the poison guard). Returns ((vec_id, bucket) frame, n_planes)."""
    from ..operators import similarity as sim

    snap = _read_snapshot_or_none(spark, path)
    row = None if snap is None else snap.select("n_planes").first()
    if row is None:
        np_ = sim.adaptive_planes(max(pool.count(), 1))
        return (
            sim._sign_bucketed(pool, np_).select("vec_id", "bucket"),
            np_,
        )
    np_ = int(row["n_planes"])
    # RECONCILE against the pool in both directions (bucketing is a
    # pure per-vector function at the frozen width): prune rows for
    # vectors no longer in the pool (exact-mode retract batches never
    # touch the sidecar, so dead rows would otherwise accumulate
    # without bound — the r13 review's finding), then sign exactly the
    # uncovered ids and append (zero-row anti-join = no-op branch, no
    # count job needed).
    have = snap.select("vec_id", "bucket").join(
        pool.select("vec_id"), "vec_id", "left_semi"
    )
    uncovered = pool.join(
        have.select("vec_id").distinct(), "vec_id", "left_anti"
    )
    have = have.unionByName(
        sim._sign_bucketed(uncovered, np_).select("vec_id", "bucket")
    )
    return have, np_


def read_vec_retraction_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of vec_id retraction requests — the takedown
    feed for :func:`run_embedding_retract`."""
    schema = StructType([StructField("vec_id", LongType())])
    return _file_stream(spark, path, schema, max_files_per_trigger)


def run_embedding_retract(
    sdf: DataFrame,
    vectors_path: str,
    index_path: str,
    checkpoint: str,
    bits: int = 8,
    graph_paths: "Sequence[tuple[str, int, int]] | None" = None,
):
    """Continuous VECTOR retraction — the embedding-side twin of
    :func:`run_corpus_retract` (r10) closing the GDPR-erasure gap the
    r10 verdict flagged: before this, taking a vector down from a
    retrieval corpus meant a full index rebuild. Each micro-batch of
    vec_ids is (1) anti-joined out of the vectors snapshot, (2) its
    (vec_id, band, bucket) rows dropped from the persisted sign-LSH
    index — bucket rows are a pure per-vector function (fixed ``bits``,
    see similarity.nd_bucket_rows), so the surviving index equals a
    from-scratch build over the surviving vectors row-for-row
    (tested), and a re-ingested COLINEAR copy of retracted content is
    admitted as novel again — and (3) optionally, each persisted kNN
    graph-ladder deposit in ``graph_paths`` (path, k, level_mod) is
    incrementally maintained: edges incident to the removed vectors
    are dropped and every vertex that LOST a neighbor gets an exact
    re-ranked neighborhood over the surviving LEVEL MEMBERS (vec_id %
    level_mod == 0; pass 1 for a ground-level graph —
    similarity.knn_graph_retract), so a serving loop keeps descending
    a valid ladder instead of invalidating the deposits wholesale.

    ``bits`` must match the ingest loop's fixed index width — it is
    only consulted on the heal path (index snapshot missing → rebuild
    from the vectors snapshot, the same derived-data rule as the
    document loop).

    Idempotent by construction: every step is an anti-join (the graph
    repair re-ranks the same touched set to the same rows), so a
    replayed batch rewrites identical snapshots. Crash consistency:
    :func:`_commit` — stale rows for absent vectors are harmless to
    reads (the ingest loop's candidate pairs verify against the
    VECTORS snapshot; a descent hop into a removed cid re-ranks it
    against base, where it no longer exists).

    Single-writer ORDERING contract for shared ``graph_paths``
    deposits: the stale-rows-heal-on-replay guarantee holds only if
    the interrupted retract batch replays BEFORE any ingest-
    maintenance batch advances the same graph deposit. The heal works
    because a stale edge into a removed cid marks its vertex as
    touched; an interleaved knn_graph_ingest merge can displace
    exactly that edge with a fresher batch neighbor, after which the
    replayed retract no longer sees the vertex as touched and the
    deposit stays short of a from-scratch build. So a graph deposit
    must have ONE maintenance writer: interleave retract-then-ingest
    inside a single loop (run_embedding_ingest's ``maintain`` hook
    does exactly this per batch) rather than pointing two concurrent
    streams at the same path (the replay-first direction is exercised
    by tests/test_streaming.py's embedding-retract replay tests; the
    interleaved-writer direction is out of contract by this
    paragraph).

    Scale shape: per batch, keyed anti-joins sized by the deletion
    batch (AQE broadcasts it) plus one exact re-rank of the touched
    cohort (|touched| ≤ in-degree of the removed set ≈ k·|batch|,
    broadcast against the corpus — O(|touched|·n) scores, no shuffle
    of the corpus, vs O(n²·rounds) for the from-scratch rebuild it
    replaces). Snapshot rewrites are the plain-parquet stand-in for
    lakehouse DELETE WHERE / MERGE."""
    from ..operators import similarity as sim

    def maintain(ids, _vectors, merged_vectors):
        spark = ids.sparkSession
        side = []
        for gpath, graph, gk, gmod, grepair in _graph_levels(spark, graph_paths):
            mem = _level(merged_vectors, gmod)
            kw = {}
            if grepair == "lsh":
                # bucket sidecar healed from the POST-removal pool,
                # which already lacks the retracted ids
                btbl, np_ = _lsh_buckets(spark, gpath, mem)
                kw = dict(n_planes=np_, bucketed=btbl)
                side.append(_buckets_snapshot(gpath, btbl, np_))
            g = sim.knn_graph_retract(
                merged_vectors, graph, ids, k=gk, members=mem, repair=grepair, **kw
            )
            side.append((gpath, g))
        return side

    return _run_retract(
        sdf,
        vectors_path,
        index_path,
        checkpoint,
        key="vec_id",
        rebuild_index=lambda vectors: sim.nd_bucket_rows(vectors, bits),
        remove_from_index=lambda index, ids: index.join(ids, "vec_id", "left_anti"),
        maintain=maintain,
    )


def progress_stats(query) -> list[dict]:
    """Operational metrics from a (finished or live) streaming query —
    the monitoring surface a pipeline's status poller reads (the
    streaming analogue of LocalBackend's observe metrics): per
    micro-batch input rows plus, for each stateful operator, the rows
    held in state and the LATE rows dropped by the watermark. At
    scale, ``dropped_late > 0`` is the signal that the watermark is
    too tight for the source's disorder (or an upstream clock is
    skewed) — data is silently excluded from aggregates until someone
    looks at exactly this counter.

    Semantics note (tests pin this): the late-row filter evaluates
    against the watermark the run STARTED with, so inside a single
    availableNow replay a "late" row in a later micro-batch is still
    accepted; the guaranteed drop — and the one this counter exists
    for — is a straggler arriving after the watermark was
    checkpointed, filtered on the next (re)start."""
    out: list[dict] = []
    for p in query.recentProgress:
        out.append(
            {
                "batch_id": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                "state_operators": [
                    {
                        "operator": s.get("operatorName"),
                        "state_rows": s.get("numRowsTotal"),
                        "dropped_late": s.get("numRowsDroppedByWatermark"),
                    }
                    for s in (p.get("stateOperators") or [])
                ],
            }
        )
    return out


def total_late_dropped(query) -> int:
    """Sum of watermark-dropped rows across the query's RECORDED
    progress — the one number a data-loss alert thresholds on.

    Buffer caveat: ``recentProgress`` is a ring buffer
    (``spark.sql.streaming.numRecentProgressUpdates``, default 100
    batches), so on a long-running query old drops age out and this
    sum undercounts. Bounded replays (availableNow) fit the buffer;
    an always-on production query should accumulate
    ``numRowsDroppedByWatermark`` monotonically in a
    StreamingQueryListener (or raise the conf) and alert on that."""
    return sum(
        s["dropped_late"] or 0
        for p in progress_stats(query)
        for s in p["state_operators"]
    )


def run_to_parquet(sdf: DataFrame, path: str, checkpoint: str, mode: str = "append"):
    """Durable parquet sink with a checkpoint directory: restarts
    resume from the last committed offsets (source replay + sink
    commit log = end-to-end exactly-once for file sinks)."""
    return (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def run_upsert_snapshot(
    sdf: DataFrame, snapshot_path: str, checkpoint: str, keys: list[str],
    order_col: str | None = None,
):
    """Stream → MERGE INTO a parquet snapshot via foreachBatch.

    Each micro-batch upserts into the snapshot (last-writer-wins on
    ``keys``) with operators.merge.merge_upsert; the checkpoint makes
    the batch ids stable so a re-delivered batch overwrites with the
    same result (idempotent sink — the exactly-once recipe when the
    sink itself has no transaction log).

    A micro-batch can carry several rows for one key (replay landing
    beside the original) — merge_upsert keeps whatever it is given, so
    the batch is deduplicated per key first: by ``order_col``
    descending when given (e.g. an event timestamp — the true last
    writer), else by the non-key columns descending (deterministic
    across shuffles, unlike dropDuplicates)."""
    from ..operators.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _dedup_per_key(batch_df, keys, order_col)
        target = _read_snapshot_or_none(spark, snapshot_path)
        merged = batch_df if target is None else merge_upsert(target, batch_df, keys)
        _commit(spark, [(snapshot_path, merged)])

    return _start(sdf, apply_batch, checkpoint)


def run_ann_serving(
    sdf: DataFrame,
    vectors: DataFrame,
    graphs,
    snapshot_path: str,
    checkpoint: str,
    k: int = 3,
    beam: int = 4,
    entry_mod: int = 16,
):
    """Online ANN serving loop over the hierarchical index: the index
    is the persisted graph-deposit ladder a batch build left behind
    (``graphs``, ordered top level → level 0 — in production the
    REFINED level-0 generation, graph_nnd2: build → refine → serve),
    ``sdf`` streams QUERY vectors, and each micro-batch is answered
    by the same layered descent the batch path runs
    (operators/similarity.hnsw_descent with an external query
    cohort). Each re-queried qid's answer is replaced WHOLE (target
    anti-joined on qid alone before the union): a per-(qid, rk)
    upsert would let stale higher-rank rows survive a re-query whose
    fresh answer has fewer rows (k/beam lowered across restarts, a
    shrunken candidate set). A replayed batch rewrites identical rows
    (idempotent sink, same discipline as run_upsert_snapshot).

    Query ids live in the caller's namespace and must be disjoint
    from corpus vec_ids (the descent's self-match guard). Scale
    shape: the scaled-vector corpus base (similarity.hnsw_base) is
    built ONCE when the stream starts and shared by every
    micro-batch, so per batch the descent costs O(|batch| ·
    (|top level| + levels·beam·k)) exact scores plus keyed joins
    against the n·k edge deposits — no per-batch corpus re-scan, and
    nothing corpus-sized is broadcast. The snapshot rewrite itself is
    O(snapshot) per batch (see :func:`_commit`); on a lakehouse
    it becomes the run_upsert_delta MERGE shape."""
    from ..operators import similarity as sim

    base = sim.hnsw_base(vectors)  # one corpus scan for the whole stream

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = _dedup_per_key(batch_df, ["vec_id"]).localCheckpoint(eager=True)
        res = sim.hnsw_descent(
            vectors, graphs, k=k, beam=beam, entry_mod=entry_mod, queries=batch, base=base
        ).localCheckpoint(eager=True)
        target = _read_snapshot_or_none(spark, snapshot_path)
        if target is not None:
            qids = res.select("qid").distinct()
            res = target.join(qids, "qid", "left_anti").unionByName(res)
        _commit(spark, [(snapshot_path, res)])

    return _start(sdf, apply_batch, checkpoint)


def run_sketch_accumulator(
    sdf: DataFrame,
    key: str,
    state_path: str,
    checkpoint: str,
    eps: float = 0.001,
    confidence: float = 0.99,
):
    """Stream → maintained Count-Min sketch via foreachBatch merge.

    Each micro-batch builds its own CM sketch (one whole-batch
    aggregate) and folds it into the persisted sketch by cell-wise
    table addition (operators/sketches.merge_cm_bytes). CM sketches
    are linear, so after any batch split the accumulated sketch equals
    the one-shot batch sketch over the same rows BIT-FOR-BIT — the
    mergeable-state property that makes sketch maintenance exactly as
    accurate as a full recompute, at O(1/eps·ln 1/δ) state.

    Replay safety: the state file carries the last applied batch id in
    an 8-byte header and is replaced atomically, so a re-delivered
    micro-batch (checkpoint makes ids stable) is skipped instead of
    double-counted — the same idempotent-sink recipe as
    :func:`run_upsert_snapshot`."""
    from ..operators import sketches

    return _run_state_accumulator(
        sdf,
        state_path,
        checkpoint,
        build=lambda bdf: sketches.cm_sketch(bdf, key, eps, confidence),
        merge=sketches.merge_cm_bytes,
    )


def run_hll_accumulator(
    sdf: DataFrame,
    key: str,
    state_path: str,
    checkpoint: str,
    lgk: int | None = None,
):
    """Stream → maintained HLL distinct-count sketch via foreachBatch
    union — the CM accumulator's twin for the OTHER mergeable-state
    family: CM cells merge by addition (linear), HLL registers merge
    by MAX (idempotent), so the accumulated union's estimate equals
    the one-shot batch sketch's over the same rows (asserted in
    tests/test_streaming.py; serialized bytes may legitimately differ
    when the union densifies a sparse sketch). Same batch-id header /
    atomic-replace replay safety as :func:`run_sketch_accumulator`."""
    from ..operators import sketches

    spark = sdf.sparkSession
    k = sketches.HLL_LGK if lgk is None else lgk
    return _run_state_accumulator(
        sdf,
        state_path,
        checkpoint,
        build=lambda bdf: sketches.hll_sketch(bdf, key, k),
        merge=lambda a, b: sketches.merge_hll_bytes(spark, a, b),
    )


PSI_BINS = 12  # e10/e22's fixed value-histogram domain: buckets 0..11


def _histogram_build(batch_df: DataFrame) -> bytes:
    """Exact (event_type, bucket) counts of one micro-batch as sorted
    JSON bytes — e10/e22's fixed 12-bucket binning, so the
    accumulated state is directly comparable to the driver-verified
    batch PSI (e22). The per-batch aggregate is type×12 rows — a
    bounded collect at any input scale."""
    import json as _json

    binned = (
        batch_df.select(
            "event_type",
            (
                F.when(F.col("value") < 0.0, F.lit(0))
                .when(F.col("value") >= 500.0, F.lit(11))
                .otherwise(F.floor(F.col("value") / F.lit(50.0)) + 1)
            )
            .cast("bigint")
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = {
        f"{r['event_type']}\x1f{r['bucket']}": r["c"] for r in binned.collect()
    }
    return _json.dumps(cells, sort_keys=True).encode()


def _histogram_merge(a: bytes, b: bytes) -> bytes:
    """Cell-wise addition — histograms are linear like CM sketches,
    so the accumulated state equals the one-shot batch histogram."""
    import json as _json

    out = _json.loads(a.decode())
    for k, v in _json.loads(b.decode()).items():
        out[k] = out.get(k, 0) + v
    return _json.dumps(out, sort_keys=True).encode()


def run_histogram_accumulator(sdf: DataFrame, state_path: str, checkpoint: str):
    """Stream → maintained exact value-distribution histogram per
    event type via foreachBatch merge — the reference window a
    streaming DRIFT MONITOR compares fresh traffic against (the
    monitoring loop around the batch e22_psi_drift query). Histograms
    are linear (cell-wise addition), so the accumulated state equals
    the one-shot batch histogram BIT-FOR-BIT; same batch-id header /
    atomic-replace replay safety as :func:`run_sketch_accumulator`."""
    return _run_state_accumulator(
        sdf, state_path, checkpoint, build=_histogram_build, merge=_histogram_merge
    )


def histogram_state(state_path: str) -> dict[str, dict[int, int]]:
    """Accumulated histogram as {event_type: {bucket: count}}."""
    import json as _json

    _, raw = read_sketch_state(state_path)
    out: dict[str, dict[int, int]] = {}
    if not raw:
        return out
    for k, v in _json.loads(raw.decode()).items():
        etype, bucket = k.rsplit("\x1f", 1)
        out.setdefault(etype, {})[int(bucket)] = v
    return out


def psi_drift(
    ref: dict[str, dict[int, int]],
    cur: dict[str, dict[int, int]],
    threshold: float = 0.01,
) -> dict[str, dict]:
    """PSI (bits) per event type between two accumulated histograms —
    the drift alarm between a reference window and current traffic.
    Same math as the driver-verified e22_psi_drift batch query
    (Laplace-smoothed shares over the fixed 12-bucket domain,
    Σ (p_ref − p_cur)·log2(p_ref/p_cur)); this driver-side evaluation
    runs over ≤ types×12 cells, so plain math.log2 is fine — the
    monitor alarms on magnitude, not on cross-engine bit-equality
    (the batch twin carries that burden). Types absent from one side
    compare against an all-empty (fully smoothed) histogram — a new
    or vanished event type is maximal drift, which is exactly when
    the alarm should fire."""
    import math

    out: dict[str, dict] = {}
    for etype in sorted(set(ref) | set(cur)):
        r = ref.get(etype, {})
        c = cur.get(etype, {})
        n_r = sum(r.values()) + PSI_BINS
        n_c = sum(c.values()) + PSI_BINS
        psi = 0.0
        for b in range(PSI_BINS):
            p_r = (r.get(b, 0) + 1) / n_r
            p_c = (c.get(b, 0) + 1) / n_c
            psi += (p_r - p_c) * (math.log2(p_r) - math.log2(p_c))
        out[etype] = {"psi_bits": psi, "drifted": psi > threshold}
    return out


def _run_state_accumulator(sdf: DataFrame, state_path: str, checkpoint: str, build, merge):
    """Shared mergeable-sketch maintenance loop: per micro-batch,
    ``build`` one sketch over the batch and ``merge`` it into the
    persisted bytes, guarded by the last-applied-batch-id header so
    replays are skipped (see run_sketch_accumulator's docstring)."""
    import os
    import struct

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        applied = -1
        prev = b""
        if os.path.exists(state_path):
            with open(state_path, "rb") as fh:
                raw = fh.read()
            applied = struct.unpack_from(">q", raw, 0)[0]
            prev = raw[8:]
        if batch_id <= applied:
            return  # replayed batch: already folded in
        part = None
        if not batch_df.isEmpty():
            part = build(batch_df)
        merged = (
            part if not prev else (prev if part is None else merge(prev, part))
        )
        os.makedirs(os.path.dirname(state_path) or ".", exist_ok=True)
        tmp = f"{state_path}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(struct.pack(">q", batch_id))
            fh.write(merged or b"")
        os.replace(tmp, state_path)  # id + sketch move together

    return _start(sdf, apply_batch, checkpoint)


def read_sketch_state(state_path: str) -> tuple[int, bytes]:
    """(last applied batch id, sketch bytes) from an accumulator's
    state file; (-1, b"") when nothing has been applied yet."""
    import os
    import struct

    if not os.path.exists(state_path):
        return -1, b""
    with open(state_path, "rb") as fh:
        raw = fh.read()
    return struct.unpack_from(">q", raw, 0)[0], raw[8:]
