"""Streaming equivalence tests: the streaming operators must agree
with their batch twins on the same rows (SURVEY §2.4)."""
from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_SMOKE
from yuki_spark.streaming import stream as st


@pytest.fixture()
def event_dir(tmp_path):
    """Events split into time-ordered slices (ascending mtime+path) so
    the file source replays them in arrival order — the realistic
    shape for a log stream."""
    tbl = pq.read_table(f"{SF_SMOKE}/events.parquet")
    # normalize nanos → µs to match the catalog's read path
    # truncate to µs like DuckDB/Spark; UTC tz so Spark reads TIMESTAMP
    ts = tbl["ts"].cast(pa.timestamp("us"), safe=False).cast(pa.timestamp("us", tz="UTC"))
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
    tbl = tbl.sort_by("ts")
    path = tmp_path / "events_stream"
    path.mkdir()
    n = tbl.num_rows
    n_slices = 6
    for i in range(n_slices):
        sl = tbl.slice(i * n // n_slices, (i + 1) * n // n_slices - i * n // n_slices)
        pq.write_table(sl, path / f"part-{i:04d}.parquet")
        time.sleep(0.05)  # strictly increasing mtimes
    yield str(path)


def _batch_sessions(spark, event_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    flag = F.when(gap.isNull() | (gap > st.SESSION_GAP_SEC), 1).otherwise(0)
    return (
        spark.read.parquet(event_dir)
        .withColumn("f", flag)
        .withColumn("sid", F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def test_windowed_counts_match_batch(spark, event_dir):
    sdf = st.windowed_counts(st.read_event_stream(spark, event_dir))
    q = st.run_to_memory(sdf, "win_counts", mode="complete")
    q.awaitTermination(120)

    got = {
        (r["hour"], r["event_type"]): r["n_events"]
        for r in spark.table("win_counts").collect()
    }
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r["hour"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert got == want


def test_sliding_counts_match_batch(spark, event_dir):
    """Sliding windows (1h/30m): streaming result must equal the batch
    explode-the-windows twin on the same rows."""
    sdf = st.sliding_counts(st.read_event_stream(spark, event_dir))
    q = st.run_to_memory(sdf, "slide_counts", mode="complete")
    q.awaitTermination(120)
    got = {
        (r["w_start"], r["w_end"], r["event_type"]): r["n_events"]
        for r in spark.table("slide_counts").collect()
    }
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start"), F.col("w.end"), "event_type", "n_events")
    )
    want = {(r["start"], r["end"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert got == want


def test_dedup_stream_drops_replayed_file(spark, event_dir, tmp_path):
    """Replay one slice twice: the duplicate event_ids must be dropped
    while unique rows all survive."""
    import shutil

    dup_dir = tmp_path / "dup_stream"
    shutil.copytree(event_dir, dup_dir)
    files = sorted(os.listdir(dup_dir))
    shutil.copy(dup_dir / files[0], dup_dir / "part-9999.parquet")  # replay slice 0

    deduped = st.dedup_stream(st.read_event_stream(spark, str(dup_dir)))
    q = st.run_to_memory(deduped, "dedup_events", mode="append")
    q.awaitTermination(120)
    n_unique = spark.read.parquet(event_dir).select("event_id").distinct().count()
    got = spark.table("dedup_events")
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_stream_static_join_enriches(spark, event_dir):
    users = spark.range(0, 5).select(
        F.col("id").alias("user_id"), F.concat(F.lit("u"), "id").alias("user_name")
    )
    enriched = st.enrich_with_users(st.read_event_stream(spark, event_dir), users)
    q = st.run_to_memory(enriched, "enriched_events", mode="append")
    q.awaitTermination(120)
    got = spark.table("enriched_events")
    assert got.count() == spark.read.parquet(event_dir).count()
    named = got.where(F.col("user_name").isNotNull()).select("user_id").distinct()
    assert {r["user_id"] for r in named.collect()} <= set(range(5))
    assert named.count() > 0


def test_stateful_sessionization_matches_batch(spark, event_dir):
    """Sessions emitted by applyInPandasWithState must be exactly the
    batch sessions that are *event-time closed*: either followed by a
    later event from the same user beyond the gap, or with
    ``session_end + gap`` behind the final watermark (global max ts)."""
    sdf = st.session_stats(st.read_event_stream(spark, event_dir))
    q = st.run_to_memory(sdf, "sessions", mode="append")
    q.awaitTermination(180)
    emitted_set = {tuple(r) for r in spark.table("sessions").collect()}

    batch = _batch_sessions(spark, event_dir)
    max_ts = spark.read.parquet(event_dir).agg(F.max("ts")).collect()[0][0]
    w = Window.partitionBy("user_id").orderBy(F.desc("session_start"))
    closed = (
        batch.withColumn("rk", F.row_number().over(w))
        .where(
            (F.col("rk") > 1)  # gap-closed by a later event
            | (  # timeout-closed: watermark passed end + gap
                F.col("session_end") + F.expr(f"INTERVAL {st.SESSION_GAP_SEC} SECONDS")
                < F.lit(max_ts)
            )
        )
        .drop("rk")
    )
    closed_set = {tuple(r) for r in closed.collect()}
    assert emitted_set == closed_set


def test_parquet_sink_with_checkpoint_resumes(spark, event_dir, tmp_path):
    """Write windowed counts to parquet with a checkpoint; re-running
    the same query over the same source must be a no-op (offsets
    committed), and new files must flow through on resume."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = st.windowed_counts(st.read_event_stream(spark, event_dir))
    q = st.run_to_parquet(sdf, out, ckpt, mode="append")
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # restart with no new data: nothing is re-emitted
    q2 = st.run_to_parquet(
        st.windowed_counts(st.read_event_stream(spark, event_dir)), out, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_foreachbatch_upsert_snapshot(spark, event_dir, tmp_path):
    """Stream upserts into a parquet snapshot keyed by event_id: the
    final snapshot holds exactly the distinct events."""
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt2")
    q = st.run_upsert_snapshot(
        st.read_event_stream(spark, event_dir), snap, ckpt, keys=["event_id"]
    )
    q.awaitTermination(120)
    got = spark.read.parquet(snap)
    src = spark.read.parquet(event_dir)
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()
    # restart with no new data: snapshot unchanged
    q2 = st.run_upsert_snapshot(
        st.read_event_stream(spark, event_dir), snap, ckpt, keys=["event_id"]
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(snap).count() == src.count()


def test_upsert_snapshot_unreadable_snapshot_fails_not_clobbers(spark, event_dir, tmp_path):
    """A snapshot that exists but cannot be read must FAIL the stream,
    not be treated as 'first batch' and overwritten with one
    micro-batch (silent data loss). Only path-not-found means first
    batch."""
    import os

    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    with open(os.path.join(snap, "part-00000.txt"), "w") as f:
        f.write("not parquet at all")
    q = st.run_upsert_snapshot(
        st.read_event_stream(spark, event_dir),
        snap,
        str(tmp_path / "ckpt_bad"),
        keys=["event_id"],
    )
    failed = False
    try:
        q.awaitTermination(120)
        failed = q.exception() is not None
    except Exception:
        failed = True
    assert failed, "query should fail on an unreadable snapshot"
    # the broken snapshot file is still there, untouched
    assert open(os.path.join(snap, "part-00000.txt")).read() == "not parquet at all"


def test_native_session_window_matches_custom_batch(spark, event_dir):
    """Spark's built-in session_window (streaming) must produce the
    same sessions as the lag/cumsum batch formulation, modulo the
    session_end convention (built-in end = last_event + gap)."""
    sdf = st.session_window_stats(st.read_event_stream(spark, event_dir))
    q = st.run_to_memory(sdf, "native_sessions", mode="complete")
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("native_sessions").collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in _batch_sessions(spark, event_dir).collect()
    }
    assert got == want
    # batch mode of the same operator agrees too
    batch_native = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in st.session_window_stats(spark.read.parquet(event_dir)).collect()
    }
    assert batch_native == want


def test_stream_stream_attribution_matches_batch(spark, event_dir):
    """Watermarked stream-stream purchase←view attribution must equal
    the batch interval join on the same rows."""
    ev = st.read_event_stream(spark, event_dir)
    q = st.run_to_memory(st.attribute_purchases(ev), "attrib", mode="append")
    q.awaitTermination(180)
    got = {
        (r["event_id"], r["view_id"]) for r in spark.table("attrib").collect()
    }

    b = spark.read.parquet(event_dir)
    v = b.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = b.where("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id"
    )
    want = {
        (r["event_id"], r["view_id"])
        for r in p.join(
            v,
            (F.col("v_user") == F.col("user_id"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def _mini_stream(tmp_path, name, slices):
    """Write slices of (event_id, ts_iso, user_id) as time-ordered
    stream part files with the events schema."""
    import datetime as dt

    d = tmp_path / name
    d.mkdir()
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    for i, rows in enumerate(slices):
        tbl = pa.table(
            {
                "event_id": [r[0] for r in rows],
                "ts": [dt.datetime.fromisoformat(r[1] + "+00:00") for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": ["view"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            },
            schema=schema,
        )
        pq.write_table(tbl, d / f"part-{i:04d}.parquet")
        time.sleep(0.05)
    return str(d)


def test_sessionization_merges_in_watermark_late_event(spark, tmp_path):
    """An admissible late event BEFORE the open session's start must
    extend the session backward (one session), not regress end_us and
    split it into two with session_end < session_start."""
    d = _mini_stream(
        tmp_path,
        "late_stream",
        [
            [(1, "2024-01-01T10:00:00", 7)],
            [(2, "2024-01-01T09:50:00", 7)],  # late but within watermark
            [(3, "2024-01-01T13:00:00", 7)],  # beyond gap: splits + emits
        ],
    )
    sdf = st.session_stats(st.read_event_stream(spark, d), watermark="2 hours")
    q = st.run_to_memory(sdf, "late_sessions", mode="append")
    q.awaitTermination(120)
    rows = spark.table("late_sessions").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["session_start"] <= r["session_end"]
    assert r["n_events"] == 2
    assert r["session_start"].strftime("%H:%M") == "09:50"
    assert r["session_end"].strftime("%H:%M") == "10:00"


def test_upsert_snapshot_dedupes_intra_batch_duplicates(spark, tmp_path):
    """Two rows for one key inside a single micro-batch: the snapshot
    must hold exactly one row per key (the order_col-latest)."""
    d = _mini_stream(
        tmp_path,
        "dup_batch",
        [
            [
                (10, "2024-01-01T10:00:00", 1),
                (10, "2024-01-01T11:00:00", 1),  # same key, later ts
                (11, "2024-01-01T10:30:00", 2),
            ]
        ],
    )
    snap = str(tmp_path / "snap_dup")
    q = st.run_upsert_snapshot(
        st.read_event_stream(spark, d),
        snap,
        str(tmp_path / "ckpt_dup"),
        keys=["event_id"],
        order_col="ts",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(snap)
    assert got.count() == 2
    r10 = got.where("event_id = 10").collect()
    assert len(r10) == 1
    assert r10[0]["ts"].strftime("%H:%M") == "11:00"


def test_sketch_accumulator_matches_one_shot(spark, event_dir, tmp_path):
    """CM-sketch maintenance across micro-batches is exact: merging
    per-batch sketches reproduces the one-shot sketch over all rows
    BIT-FOR-BIT (linearity), and a replayed batch id is skipped, not
    double-counted."""
    from yuki_spark.operators import sketches

    state = str(tmp_path / "state" / "cm.bin")
    q = st.run_sketch_accumulator(
        st.read_event_stream(spark, event_dir),
        "event_type",
        state,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    applied, acc = st.read_sketch_state(state)
    assert applied >= 0 and acc

    batch = sketches.cm_sketch(spark.read.parquet(event_dir), "event_type")
    assert acc == batch, "accumulated sketch must equal one-shot bytes"

    # estimates flow through the probe path on the merged bytes
    d, w, t = sketches.parse_cm_sketch(acc)
    n_click = spark.read.parquet(event_dir).where(F.col("event_type") == "click").count()
    est = sketches.cm_estimate_string(d, w, t, "click")
    assert est >= n_click  # CM upper bias

    # replay: re-running the whole stream with the same checkpoint
    # must not change the state (same batch ids -> all skipped)
    q2 = st.run_sketch_accumulator(
        st.read_event_stream(spark, event_dir),
        "event_type",
        state,
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    applied2, acc2 = st.read_sketch_state(state)
    assert (applied2, acc2) == (applied, acc)


def test_hll_accumulator_matches_one_shot(spark, event_dir, tmp_path):
    """HLL maintenance across micro-batches: register-MAX union makes
    the accumulated sketch's ESTIMATE equal the one-shot sketch's over
    all rows (bytes may differ — union can densify a sparse sketch),
    the estimate is near-exact at this cardinality, and replayed batch
    ids are skipped."""
    from yuki_spark.operators import sketches

    state = str(tmp_path / "state" / "hll.bin")
    q = st.run_hll_accumulator(
        st.read_event_stream(spark, event_dir),
        "user_id",
        state,
        str(tmp_path / "ckpt_hll"),
    )
    q.awaitTermination(120)
    applied, acc = st.read_sketch_state(state)
    assert applied >= 0 and acc

    one_shot = sketches.hll_sketch(spark.read.parquet(event_dir), "user_id")
    est_acc = sketches.hll_estimate(spark, acc)
    assert est_acc == sketches.hll_estimate(spark, one_shot)

    exact = spark.read.parquet(event_dir).select("user_id").distinct().count()
    # 2^12 registers: sparse-mode exact far beyond this cardinality
    assert abs(est_acc - exact) <= max(2, 0.02 * exact)

    q2 = st.run_hll_accumulator(
        st.read_event_stream(spark, event_dir),
        "user_id",
        state,
        str(tmp_path / "ckpt_hll"),
    )
    q2.awaitTermination(120)
    assert st.read_sketch_state(state) == (applied, acc)


def test_merge_cm_bytes_linearity_and_guards(spark):
    from yuki_spark.operators import sketches

    a = spark.createDataFrame([(f"k{i % 7}",) for i in range(300)], "k string")
    b = spark.createDataFrame([(f"k{i % 5}",) for i in range(200)], "k string")
    sa = sketches.cm_sketch(a, "k")
    sb = sketches.cm_sketch(b, "k")
    sab = sketches.cm_sketch(a.unionAll(b), "k")
    assert sketches.merge_cm_bytes(sa, sb) == sab
    with pytest.raises(ValueError, match="incompatible"):
        sketches.merge_cm_bytes(sa, sketches.cm_sketch(b, "k", eps=0.01))


def test_watermark_drops_late_straggler_and_progress_reports_it(spark, tmp_path):
    """Late-data observability: a straggler file arriving AFTER a
    checkpointed run — older than the persisted watermark — is dropped
    from the stateful aggregate on the next run, and
    progress_stats/total_late_dropped surface exactly that count (the
    silent-data-loss alarm a production stream polls). The restart
    shape matters: within one availableNow run the filter evaluates
    against the RUN-START watermark, so the guaranteed drop is the
    cross-restart straggler — exactly the realistic case."""
    import datetime as dt

    sdir = tmp_path / "late_stream"
    sdir.mkdir()
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def slice_file(name, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] for r in rows], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    slice_file(
        "part-0000.parquet",
        [(1, base.replace(hour=10)), (2, base.replace(hour=10, minute=30))],
    )
    slice_file("part-0001.parquet", [(5, base.replace(hour=13))])
    q = st.run_to_parquet(
        st.windowed_counts(
            st.read_event_stream(spark, str(sdir), max_files_per_trigger=1),
            watermark="1 hour",
        ),
        out,
        ckpt,
    )
    q.awaitTermination(120)
    assert st.total_late_dropped(q) == 0  # nothing late yet

    # the straggler: hour-3 data landing after watermark 12:00 was
    # checkpointed
    slice_file("part-0002.parquet", [(9, base.replace(hour=3))])
    q2 = st.run_to_parquet(
        st.windowed_counts(
            st.read_event_stream(spark, str(sdir), max_files_per_trigger=1),
            watermark="1 hour",
        ),
        out,
        ckpt,
    )
    q2.awaitTermination(120)

    assert st.total_late_dropped(q2) == 1
    stats = st.progress_stats(q2)
    assert any(
        s["dropped_late"] == 1
        for p in stats
        for s in p["state_operators"]
    )
    got = {(r["hour"].hour, r["n_events"]) for r in spark.read.parquet(out).collect()}
    assert (3, 1) not in got  # the straggler never reached the sink
    assert (10, 2) in got


def test_corpus_ingest_dedupes_across_batches(spark, tmp_path):
    """End-to-end continuous corpus ingestion: within-batch near-dups
    collapse, cross-batch dups are caught against the persisted band
    index, novel docs accumulate, and a full replay leaves the corpus
    and index byte-stable (idempotent sink)."""
    sdir = tmp_path / "doc_stream"
    sdir.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ingest_ckpt")

    def slice_file(name, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    base = "the quick brown fox jumps over the lazy"
    slice_file(
        "part-0000.parquet",
        [
            (1, f"{base} dog"),
            (2, f"{base} cat"),  # near-dup of 1 (J=7/9 >= 0.7) -> dropped in-batch
            (3, "completely different words entirely unrelated text here"),
        ],
    )
    slice_file(
        "part-0001.parquet",
        [
            (10, f"{base} dog"),  # exact dup of ingested doc 1 -> dropped
            (11, "genuinely novel second batch content tokens"),
        ],
    )

    from yuki_spark.operators import dedup as dd

    q = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        ckpt,
        threshold=0.7,
    )
    q.awaitTermination(180)

    ids = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert ids == [1, 3, 11]
    idx = spark.read.parquet(index)
    assert idx.select("doc_id").distinct().count() == 3
    assert idx.count() == 3 * dd.N_BANDS

    # REAL replay (see _force_batch_replay): the last batch
    # re-executes against already-merged state; the self-match filter
    # + keyed upserts must rewrite identical state
    _force_batch_replay(ckpt)
    q2 = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        ckpt,
        threshold=0.7,
    )
    q2.awaitTermination(180)
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == [1, 3, 11]
    assert spark.read.parquet(index).count() == 3 * dd.N_BANDS

    # a third batch arriving later: novel doc lands, dup of doc 3 dropped
    slice_file(
        "part-0002.parquet",
        [
            (20, "completely different words entirely unrelated text here"),
            (21, "late arriving but fresh content never seen before"),
        ],
    )
    q3 = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        ckpt,
        threshold=0.7,
    )
    q3.awaitTermination(180)
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == [1, 3, 11, 21]


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_corpus_dhash_sidecar_maintained_across_churn(spark, tmp_path):
    """r13: the d50 perceptual-hash deposit is maintained as a SIDE
    deposit of the corpus loops (the _buckets sidecar discipline on
    the dHash family — the last rebuild-on-churn deposit the r12
    verdict named). Across an ingest → retract → ingest cycle the
    maintained sidecar must equal a from-scratch recompute over the
    surviving corpus row-for-row, heal whole when missing, and stay
    byte-stable under a forced batch replay."""
    from yuki_spark.streaming.stream import _dhash_rows

    sdir = tmp_path / "doc_stream"
    sdir.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    dhash = str(tmp_path / "corpus_dhash")
    audio = str(tmp_path / "corpus_audio")

    def slice_file(name, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    def assert_sidecar_matches_corpus():
        from yuki_spark.streaming.stream import _audio_sidecar_rows

        got = sorted(
            (r["doc_id"], r["sh"])
            for r in spark.read.parquet(dhash).collect()
        )
        want = sorted(
            (r["doc_id"], r["sh"])
            for r in _dhash_rows(spark.read.parquet(corpus)).collect()
        )
        assert got == want
        got_a = sorted(
            map(tuple, spark.read.parquet(audio).collect())
        )
        # the rebuilt twin is the TOTAL row function (fingerprints +
        # silent sentinels), so maintained ≡ rebuilt covers the
        # sentinel rows too
        want_a = sorted(
            map(
                tuple,
                _audio_sidecar_rows(spark.read.parquet(corpus)).collect(),
            )
        )
        assert got_a == want_a

    slice_file(
        "part-0000.parquet",
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely unrelated text here"),
        ],
    )
    slice_file(
        "part-0001.parquet",
        # doc 12 is TOKEN-LESS: it must land in the audio sidecar as
        # the silent sentinel row (seg = AUDIO_SILENT_SEG), making its
        # coverage a keyed fact — later batches must not re-tokenize
        # the corpus to rediscover that it yields no fingerprint
        [
            (11, "genuinely novel second batch content tokens"),
            (12, "   "),
        ],
    )
    q = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        str(tmp_path / "ingest_ckpt"),
        threshold=0.7,
        dhash_path=dhash,
        audio_path=audio,
    )
    q.awaitTermination(180)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 3, 11, 12]
    assert_sidecar_matches_corpus()
    from yuki_spark.streaming.stream import AUDIO_SILENT_SEG

    assert {
        (r["seg"], r["ah"])
        for r in spark.read.parquet(audio).collect()
        if r["doc_id"] == 12
    } == {(AUDIO_SILENT_SEG, 0)}

    # retract doc 3: the sidecar is pruned by the same keyed anti-join
    rdir = tmp_path / "retract_stream"
    rdir.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([3], pa.int64())}),
        rdir / "rm-0.parquet",
    )
    rq = st.run_corpus_retract(
        st.read_retraction_stream(spark, str(rdir)),
        corpus,
        index,
        str(tmp_path / "retract_ckpt"),
        dhash_path=dhash,
        audio_path=audio,
    )
    rq.awaitTermination(180)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 11, 12]
    assert_sidecar_matches_corpus()

    # a later ingest batch appends at the same grain; replaying it
    # against merged state leaves the sidecar byte-stable
    slice_file(
        "part-0002.parquet",
        [(21, "late arriving but fresh content never seen before")],
    )
    q2 = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        str(tmp_path / "ingest_ckpt"),
        threshold=0.7,
        dhash_path=dhash,
        audio_path=audio,
    )
    q2.awaitTermination(180)
    assert_sidecar_matches_corpus()
    before = sorted(map(tuple, spark.read.parquet(dhash).collect()))
    _force_batch_replay(str(tmp_path / "ingest_ckpt"))
    q3 = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        str(tmp_path / "ingest_ckpt"),
        threshold=0.7,
        dhash_path=dhash,
        audio_path=audio,
    )
    q3.awaitTermination(180)
    assert sorted(map(tuple, spark.read.parquet(dhash).collect())) == before

    # heal rule: a deleted sidecar is rebuilt WHOLE on the next batch
    import shutil

    shutil.rmtree(dhash)
    slice_file(
        "part-0003.parquet",
        [(30, "final batch with wholly new material for the heal path")],
    )
    q4 = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        str(tmp_path / "ingest_ckpt"),
        threshold=0.7,
        dhash_path=dhash,
        audio_path=audio,
    )
    q4.awaitTermination(180)
    assert_sidecar_matches_corpus()

    # MIXED-MODE reconcile (the r13 review's hole): a retract batch
    # run WITHOUT dhash_path leaves a dead row behind, and an ingest
    # batch run WITHOUT it leaves a gap — the next dhash_path batch
    # must reconcile both directions against the corpus, so an erased
    # doc's perceptual hash cannot outlive the takedown
    rdir2 = tmp_path / "retract_stream2"
    rdir2.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([11], pa.int64())}),
        rdir2 / "rm-0.parquet",
    )
    rq2 = st.run_corpus_retract(
        st.read_retraction_stream(spark, str(rdir2)),
        corpus,
        index,
        str(tmp_path / "retract_ckpt2"),
        # dhash_path deliberately OMITTED: the sidecar goes stale
    )
    rq2.awaitTermination(180)
    assert 11 in {r["doc_id"] for r in spark.read.parquet(dhash).collect()}
    slice_file(
        "part-0004.parquet",
        [(40, "reconcile trigger batch with brand new unrelated words")],
    )
    q5 = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        str(tmp_path / "ingest_ckpt"),
        threshold=0.7,
        dhash_path=dhash,
        audio_path=audio,
    )
    q5.awaitTermination(180)
    side_ids = {r["doc_id"] for r in spark.read.parquet(dhash).collect()}
    assert 11 not in side_ids  # dead row reconciled away
    assert_sidecar_matches_corpus()

    # UPDATE case (second self-review): an upserted doc_id with NEW
    # content must get its sidecar rows RECOMPUTED — a covered id with
    # stale rows is the one case pure-function coverage can't excuse
    old40 = {
        (r["seg"], r["ah"])
        for r in spark.read.parquet(audio).collect()
        if r["doc_id"] == 40
    }
    slice_file(
        "part-0005.parquet",
        [(40, "entirely rewritten content for the update recompute case")],
    )
    q6 = st.run_corpus_ingest(
        st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
        corpus,
        index,
        str(tmp_path / "ingest_ckpt"),
        threshold=0.7,
        dhash_path=dhash,
        audio_path=audio,
    )
    q6.awaitTermination(180)
    new40 = {
        (r["seg"], r["ah"])
        for r in spark.read.parquet(audio).collect()
        if r["doc_id"] == 40
    }
    assert new40 and new40 != old40  # rows track the NEW content
    assert_sidecar_matches_corpus()


def test_corpus_retract_reverses_ingest_and_readmits(spark, tmp_path):
    """Continuous retraction (run_corpus_retract, the takedown twin of
    the ingest loop): a streamed deletion batch removes the docs from
    the corpus snapshot AND their band rows from the persisted index —
    the maintained index equals a from-scratch build over the
    surviving corpus — a re-ingested copy of the retracted content is
    admitted as NOVEL again, and a forced replay of the retraction
    batch rewrites identical snapshots (idempotent sink)."""
    from yuki_spark.operators import dedup as dd

    sdir = tmp_path / "doc_stream"
    sdir.mkdir()
    rdir = tmp_path / "retract_stream"
    rdir.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    def doc_slice(name, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    def ingest():
        q = st.run_corpus_ingest(
            st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
            corpus,
            index,
            str(tmp_path / "ingest_ckpt"),
            threshold=0.7,
        )
        q.awaitTermination(180)

    doc_slice(
        "part-0000.parquet",
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely unrelated text here"),
            (5, "a third genuinely distinct document body of tokens"),
        ],
    )
    ingest()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 3, 5]

    # retraction batch: take down doc 3
    pq.write_table(
        pa.table({"doc_id": pa.array([3], pa.int64())}), rdir / "rm-0.parquet"
    )
    rckpt = str(tmp_path / "retract_ckpt")

    def retract():
        q = st.run_corpus_retract(
            st.read_retraction_stream(spark, str(rdir)), corpus, index, rckpt
        )
        q.awaitTermination(180)

    retract()
    surv = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in surv.collect()) == [1, 5]
    got_idx = sorted(
        tuple(r) for r in spark.read.parquet(index).collect()
    )
    scratch = sorted(
        tuple(r)
        for r in dd.band_index(dd.token_sets(surv)).collect()
    )
    assert got_idx == scratch  # from-scratch equality at stream grain

    # forced replay of the retraction batch: identical snapshots
    _force_batch_replay(rckpt)
    retract()
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == [1, 5]
    assert sorted(tuple(r) for r in spark.read.parquet(index).collect()) == scratch

    # the retracted CONTENT re-ingested under a new id is novel again
    # (nothing of doc 3 survives in the index to flag it as a dup)
    doc_slice(
        "part-0001.parquet",
        [(30, "completely different words entirely unrelated text here")],
    )
    ingest()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 5, 30]

    # a SECOND retraction after the re-ingest (ingest→retract→ingest→
    # retract): state equality with a from-scratch build must hold at
    # every point of the interleaving, not just after one cycle
    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64())}), rdir / "rm-1.parquet"
    )
    retract()
    surv2 = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in surv2.collect()) == [5, 30]
    assert sorted(
        tuple(r) for r in spark.read.parquet(index).collect()
    ) == sorted(
        tuple(r) for r in dd.band_index(dd.token_sets(surv2)).collect()
    )


def _force_batch_replay(ckpt: str) -> None:
    """Delete the newest commit marker (keeping its source offsets) so
    the next availableNow run genuinely RE-EXECUTES that batch against
    already-merged state — a restart with intact commits processes
    zero batches and would make any 'replay idempotency' assertion
    vacuous."""
    cdir = os.path.join(ckpt, "commits")
    latest = max((f for f in os.listdir(cdir) if f.isdigit()), key=int)
    os.remove(os.path.join(cdir, latest))
    crc = os.path.join(cdir, f".{latest}.crc")  # else the re-commit's
    if os.path.exists(crc):  # rename collides with the stale checksum
        os.remove(crc)


def test_embedding_ingest_dedupes_across_batches(spark, tmp_path):
    """Vector-side continuous ingest (run_embedding_ingest): in-batch
    cosine near-dups collapse, cross-batch dups are caught against the
    persisted bucket index (colinear vectors share every sign-LSH
    bucket deterministically), novel vectors accumulate, and a full
    replay leaves both snapshots stable (idempotent sink)."""
    from yuki_spark.operators.similarity import NEARDUP_BANDS

    sdir = tmp_path / "emb_stream"
    sdir.mkdir()
    vectors = str(tmp_path / "vectors")
    index = str(tmp_path / "emb_index")
    ckpt = str(tmp_path / "emb_ckpt")

    def basis(i, scale=1.0):
        v = [0.0] * 64
        v[i] = scale
        return v

    def slice_file(name, rows):
        tbl = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    slice_file(
        "part-0000.parquet",
        [
            (1, basis(0)),
            (2, basis(0, 2.0)),  # colinear with 1 (cosine 1) -> in-batch drop
            (3, basis(1)),
        ],
    )
    slice_file(
        "part-0001.parquet",
        [
            (10, basis(0, 3.0)),  # colinear with ingested 1 -> dropped
            (11, basis(2)),
        ],
    )

    def ingest():
        q = st.run_embedding_ingest(
            st.read_embedding_stream(spark, str(sdir), max_files_per_trigger=1),
            vectors,
            index,
            ckpt,
            threshold=0.95,
            bits=6,
        )
        q.awaitTermination(180)

    ingest()
    ids = sorted(r["vec_id"] for r in spark.read.parquet(vectors).collect())
    assert ids == [1, 3, 11]
    idx = spark.read.parquet(index)
    assert idx.select("vec_id").distinct().count() == 3
    assert idx.count() == 3 * NEARDUP_BANDS

    # REAL replay: drop the newest commit marker so the last batch
    # re-executes against already-merged state — apply_batch's
    # self-match filter + keyed upserts must rewrite identical state
    _force_batch_replay(ckpt)
    ingest()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(vectors).collect()
    ) == [1, 3, 11]
    assert spark.read.parquet(index).count() == 3 * NEARDUP_BANDS

    # later batch: dup of vec 3 dropped, novel direction lands
    slice_file(
        "part-0002.parquet",
        [
            (20, basis(1, 5.0)),  # colinear with ingested 3 -> dropped
            (21, basis(3)),
        ],
    )
    ingest()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(vectors).collect()
    ) == [1, 3, 11, 21]
    assert spark.read.parquet(index).count() == 4 * NEARDUP_BANDS


def test_snapshot_atomic_overwrite_and_heal(spark, tmp_path):
    """_commit's one-snapshot case stages + rename-swaps: a crash window that
    leaves .old beside a missing live dir heals on the next read; a
    marker-less (partial) snapshot directory fails loud instead of
    reading as a silently truncated snapshot (r4 advice)."""
    import shutil

    snap = str(tmp_path / "snap")
    st._commit(spark, [(snap, spark.range(10).selectExpr("id AS k"))])
    assert st._read_snapshot_or_none(spark, snap).count() == 10
    # second overwrite replaces content, leaves no siblings behind
    st._commit(spark, [(snap, spark.range(3).selectExpr("id AS k"))])
    assert st._read_snapshot_or_none(spark, snap).count() == 3
    assert not os.path.exists(snap + ".old")
    assert not os.path.exists(snap + ".staged")

    # crash mid-swap: live renamed away, new never renamed in
    os.rename(snap, snap + ".old")
    healed = st._read_snapshot_or_none(spark, snap)
    assert healed is not None and healed.count() == 3
    assert not os.path.exists(snap + ".old")

    # partial write: directory exists without _SUCCESS -> fail loud
    os.remove(os.path.join(snap, "_SUCCESS"))
    with pytest.raises(RuntimeError, match="_SUCCESS"):
        st._read_snapshot_or_none(spark, snap)
    shutil.rmtree(snap)

    # true first-batch state (no directory at all) is still None
    assert st._read_snapshot_or_none(spark, snap) is None


def test_snapshot_read_uses_the_staged_schema_without_a_job(spark, tmp_path):
    """_stage records the frame's schema beside the data, so reading
    the committed snapshot fires no inference job and yields what
    inference would; a snapshot staged without the file still reads
    (by inference)."""
    snap = str(tmp_path / "snap")
    frame = spark.range(6).selectExpr(
        "id AS k", "CAST(id AS STRING) AS s", "array(id, id + 1) AS a",
        "named_struct('x', id * 0.5) AS st", "TIMESTAMP '2024-01-01 00:00:00' AS ts",
    )
    st._commit(spark, [(snap, frame)])
    assert os.path.exists(os.path.join(snap, st._SCHEMA_FILE))
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    before = sc.statusStore().jobsList(None).size()
    read = st._read_snapshot_or_none(spark, snap)
    sc.listenerBus().waitUntilEmpty()
    assert sc.statusStore().jobsList(None).size() == before
    inferred = spark.read.parquet(snap)
    assert read.schema == inferred.schema
    assert sorted(read.collect()) == sorted(inferred.collect()) == sorted(frame.collect())
    os.remove(os.path.join(snap, st._SCHEMA_FILE))
    assert st._read_snapshot_or_none(spark, snap).schema == inferred.schema


def _dir_bytes(path: str) -> dict[str, bytes]:
    """Every file under a snapshot directory (data, markers, checksums)."""
    out = {}
    for base, _, names in os.walk(path):
        for n in names:
            with open(os.path.join(base, n), "rb") as fh:
                out[os.path.relpath(os.path.join(base, n), path)] = fh.read()
    return out


@pytest.mark.parametrize("where", ["snapshots", "side"])
def test_commit_failed_stage_leaves_live_snapshots_untouched(spark, tmp_path, where):
    """Phase 1 of _commit writes only ``.staged`` siblings: when a
    frame's staged write raises — a declared snapshot after one that
    staged fine, or a side snapshot derived from the staged copies —
    every live snapshot of the batch stays byte-identical, and no
    ``.old`` or ``.staged`` sibling is left behind."""
    paths = [str(tmp_path / n) for n in ("primary", "index", "side")]
    st._commit(spark, [(p, spark.range(5).selectExpr("id AS k")) for p in paths])
    before = {p: _dir_bytes(p) for p in paths}

    good = spark.range(2).selectExpr("id AS k")
    bad = spark.range(5).select(
        F.when(F.col("id") == 3, F.raise_error(F.lit("injected stage failure")))
        .otherwise(F.col("id"))
        .alias("k")
    )
    if where == "snapshots":
        snaps, side = [(paths[0], good), (paths[1], bad), (paths[2], good)], None
    else:
        snaps, side = [(paths[0], good), (paths[1], good)], lambda *_: [(paths[2], bad)]
    with pytest.raises(Exception, match="injected stage failure"):
        st._commit(spark, snaps, side=side)
    assert {p: _dir_bytes(p) for p in paths} == before
    assert not any(os.path.exists(p + ".old") for p in paths)
    assert not any(os.path.exists(p + ".staged") for p in paths)


def test_commit_crash_after_first_swap_converges_on_replay(spark, tmp_path, monkeypatch):
    """A failure between two swaps of one batch leaves the corpus new
    and the index one batch stale. The batch is uncommitted, so the
    restart replays it, and a forced replay after that
    (_force_batch_replay) still lands on exactly the snapshots of an
    uninterrupted run."""
    from pyspark.errors import StreamingQueryException

    sdir = tmp_path / "doc_stream"
    sdir.mkdir()
    base = "the quick brown fox jumps over the lazy"
    for i, rows in enumerate(
        [
            [(1, f"{base} dog"), (2, f"{base} cat"), (3, "completely different words here")],
            [(10, f"{base} dog"), (11, "genuinely novel second batch content tokens")],
        ]
    ):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows]),
                    "lang": pa.array(["en"] * len(rows)),
                    "source": pa.array(["s"] * len(rows)),
                    "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
                }
            ),
            sdir / f"part-{i:04d}.parquet",
        )
        time.sleep(0.05)

    def run(root):
        q = st.run_corpus_ingest(
            st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
            str(root / "corpus"),
            str(root / "index"),
            str(root / "ckpt"),
            threshold=0.7,
        )
        q.awaitTermination(180)

    def state(root):
        return [
            sorted(map(tuple, spark.read.parquet(str(root / snap)).collect()))
            for snap in ("corpus", "index")
        ]

    ref, crash = tmp_path / "ref", tmp_path / "crash"
    run(ref)
    want = state(ref)

    real_swap, swaps = st._swap, []

    def crashing_swap(spark_, path):
        swaps.append(path)
        if len(swaps) == 4:  # batch 1: the corpus swapped, the index not yet
            raise RuntimeError("injected crash after the first swap")
        real_swap(spark_, path)

    monkeypatch.setattr(st, "_swap", crashing_swap)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run(crash)
    monkeypatch.setattr(st, "_swap", real_swap)
    corpus_now, index_now = state(crash)
    assert corpus_now == want[0] and index_now != want[1]  # the crash window is real
    assert not os.path.exists(str(crash / "index") + ".old")

    run(crash)  # the uncommitted batch replays
    assert state(crash) == want
    _force_batch_replay(str(crash / "ckpt"))
    run(crash)
    assert state(crash) == want


def test_histogram_accumulator_and_psi_drift(spark, event_dir, tmp_path):
    """Drift monitoring on a stream: the accumulated per-type value
    histogram equals the one-shot batch histogram bit-for-bit
    (linearity + replay safety), and psi_drift between two windows
    matches the driver-verified batch PSI (e22) on the same halves."""
    state = str(tmp_path / "state" / "hist.json")
    q = st.run_histogram_accumulator(
        st.read_event_stream(spark, event_dir), state, str(tmp_path / "ckpt_h")
    )
    q.awaitTermination(120)
    acc = st.histogram_state(state)
    batch = spark.read.parquet(event_dir)
    bucket = (
        F.when(F.col("value") < 0.0, F.lit(0))
        .when(F.col("value") >= 500.0, F.lit(11))
        .otherwise(F.floor(F.col("value") / F.lit(50.0)) + 1)
    ).cast("bigint")
    want: dict = {}
    for r in (
        batch.select("event_type", bucket.alias("b"))
        .groupBy("event_type", "b").count().collect()
    ):
        want.setdefault(r["event_type"], {})[r["b"]] = r["count"]
    assert acc == want

    # replay: same checkpoint -> all batch ids skipped, state unchanged
    q2 = st.run_histogram_accumulator(
        st.read_event_stream(spark, event_dir), state, str(tmp_path / "ckpt_h")
    )
    q2.awaitTermination(120)
    assert st.histogram_state(state) == acc

    # identical windows -> PSI ~ 0, never drifted
    same = st.psi_drift(acc, acc)
    assert same and all(
        v["psi_bits"] == 0.0 and not v["drifted"] for v in same.values()
    )
    # a shifted distribution fires the alarm
    shifted = {
        t: {min(b + 4, 11): c for b, c in hist.items()} for t, hist in acc.items()
    }
    fired = st.psi_drift(acc, shifted)
    assert all(v["drifted"] for v in fired.values())
    # a vanished event type is maximal drift
    missing = {t: h for t, h in acc.items() if t != "click"}
    assert st.psi_drift(acc, missing)["click"]["drifted"]

    # anchor to the driver-verified batch PSI: split the same events at
    # e22's mid-month boundary and compare per-type psi_bits — e22
    # quantizes per-bin terms to DECIMAL(18,6) before summing, so the
    # two agree to ~bins x 0.5e-6 (plus ~5e-12 of series-vs-libm log)
    import datetime as dt

    cut = dt.date(2024, 1, 15)
    first = batch.where(F.to_date("ts") <= F.lit(cut))
    second = batch.where(F.to_date("ts") > F.lit(cut))

    def hist_of(df):
        out: dict = {}
        for r in (
            df.select("event_type", bucket.alias("b"))
            .groupBy("event_type", "b").count().collect()
        ):
            out.setdefault(r["event_type"], {})[r["b"]] = r["count"]
        return out

    stream_psi = st.psi_drift(hist_of(first), hist_of(second))
    from yuki_spark.queries.events import e22_psi_drift

    for r in e22_psi_drift(spark, SF_SMOKE).collect():
        assert abs(stream_psi[r["event_type"]]["psi_bits"] - r["psi_bits"]) < 1e-4


def test_ann_serving_matches_batch_descent_and_replays(spark, tmp_path):
    """Online ANN serving (run_ann_serving): query vectors stream in
    against the persisted hierarchical index deposits and every
    micro-batch is answered by the SAME layered descent the batch
    path runs — the final snapshot equals a one-shot batch descent
    over the last version of each query (serving == batch), a
    re-sent query id overwrites its stale answer, and a forced batch
    replay rewrites identical rows (idempotent sink)."""
    import os as _os

    from yuki_spark.operators.similarity import hnsw_descent
    from yuki_spark.queries import sim

    sf = "/root/testdata/sf0.001"
    _os.environ["YUKI_SPARK_SIM_STORE"] = str(tmp_path / "simstore")
    try:
        corpus = spark.read.parquet(f"{sf}/embeddings.parquet")
        # production build order: serve the REFINED level-0 generation
        graphs = [sim._graph_l1(spark, sf), sim._graph_nnd2(spark, sf)]

        # query vectors copied from known corpus rows, ids far above
        # the corpus id space (serving namespace must be disjoint)
        src = {
            r["vec_id"]: list(r["embedding"])
            for r in corpus.where(F.col("vec_id").isin(5, 7, 9, 11)).collect()
        }
        sdir = tmp_path / "qstream"
        sdir.mkdir()

        def slice_file(name, rows):
            tbl = pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float32())
                    ),
                    "label": pa.array([0] * len(rows), pa.int32()),
                }
            )
            pq.write_table(tbl, sdir / name)
            time.sleep(0.05)

        slice_file("part-0000.parquet", [(1000, src[5]), (1001, src[7])])
        # 1001 re-queries with a DIFFERENT vector -> must overwrite
        slice_file("part-0001.parquet", [(1001, src[9]), (1002, src[11])])

        snap = str(tmp_path / "answers")
        ckpt = str(tmp_path / "ann_ckpt")

        def run_once():
            q = st.run_ann_serving(
                st.read_embedding_stream(
                    spark, str(sdir), max_files_per_trigger=1
                ),
                corpus,
                graphs,
                snap,
                ckpt,
            )
            q.awaitTermination(120)

        run_once()
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(snap)
            .select("qid", "rk", "cid", "cosine")
            .collect()
        )
        # serving == batch: one-shot descent over the LAST version of
        # each query id
        final_q = spark.createDataFrame(
            [(1000, src[5], 0), (1001, src[9], 0), (1002, src[11], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        want = sorted(
            tuple(r)
            for r in hnsw_descent(corpus, graphs, queries=final_q)
            .select("qid", "rk", "cid", "cosine")
            .collect()
        )
        assert got == want and len(got) > 0
        assert {q for q, *_ in got} == {1000, 1001, 1002}
        # a copied corpus vector's top answer scores cosine 1.0 only
        # if the descent reached its source; what MUST hold is rank
        # structure per query id
        for qid in (1000, 1001, 1002):
            rks = sorted(rk for q, rk, *_ in got if q == qid)
            assert rks == list(range(1, len(rks) + 1))

        # forced replay of the newest batch rewrites identical state
        _force_batch_replay(ckpt)
        run_once()
        again = sorted(
            tuple(r)
            for r in spark.read.parquet(snap)
            .select("qid", "rk", "cid", "cosine")
            .collect()
        )
        assert again == got

        # SHRUNKEN re-query (r10, r9-ADVICE): a new serving stream at
        # k=2 re-queries 1001 — the whole stale 3-row answer must be
        # REPLACED by the fresh 2-row one (per-qid replacement; a
        # per-(qid, rk) upsert would leave the stale rk=3 row mixed in)
        sdir2 = tmp_path / "qstream2"
        sdir2.mkdir()
        tbl = pa.table(
            {
                "vec_id": pa.array([1001], pa.int64()),
                "embedding": pa.array([src[5]], pa.list_(pa.float32())),
                "label": pa.array([0], pa.int32()),
            }
        )
        pq.write_table(tbl, sdir2 / "part-0000.parquet")
        q2 = st.run_ann_serving(
            st.read_embedding_stream(spark, str(sdir2)),
            corpus,
            graphs,
            snap,
            str(tmp_path / "ann_ckpt2"),
            k=2,
        )
        q2.awaitTermination(120)
        after = spark.read.parquet(snap)
        rows_1001 = sorted(
            r["rk"] for r in after.where(F.col("qid") == 1001).collect()
        )
        assert rows_1001 == [1, 2]  # no stale rk=3 survivor
        # untouched query ids keep their full answers
        assert sorted(
            r["rk"] for r in after.where(F.col("qid") == 1000).collect()
        ) == [1, 2, 3]
    finally:
        _os.environ.pop("YUKI_SPARK_SIM_STORE", None)


def test_embedding_retract_reverses_ingest_and_readmits(spark, tmp_path):
    """Vector-side continuous retraction (run_embedding_retract, the
    embedding twin of run_corpus_retract): a streamed deletion batch
    removes the vectors from the snapshot AND their bucket rows from
    the persisted sign-LSH index — the maintained index equals a
    from-scratch nd_bucket_rows build over the survivors — a
    re-ingested COLINEAR copy of retracted content is admitted as
    NOVEL again, and a forced replay rewrites identical snapshots.
    A second retract after the re-ingest pins state equality at every
    point of the interleaving."""
    from yuki_spark.operators import similarity as sim

    sdir = tmp_path / "emb_stream"
    sdir.mkdir()
    rdir = tmp_path / "vec_retract_stream"
    rdir.mkdir()
    vectors = str(tmp_path / "vectors")
    index = str(tmp_path / "emb_index")
    bits = 6

    def basis(i, scale=1.0):
        v = [0.0] * 64
        v[i] = scale
        return v

    def slice_file(name, rows):
        tbl = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    def ingest():
        q = st.run_embedding_ingest(
            st.read_embedding_stream(spark, str(sdir), max_files_per_trigger=1),
            vectors,
            index,
            str(tmp_path / "emb_ckpt"),
            threshold=0.95,
            bits=bits,
        )
        q.awaitTermination(180)

    def scratch_index(frame):
        return sorted(tuple(r) for r in sim.nd_bucket_rows(frame, bits).collect())

    slice_file(
        "part-0000.parquet", [(1, basis(0)), (3, basis(1)), (11, basis(2))]
    )
    ingest()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(vectors).collect()
    ) == [1, 3, 11]

    # retraction batch: take down vec 3
    pq.write_table(
        pa.table({"vec_id": pa.array([3], pa.int64())}), rdir / "rm-0.parquet"
    )
    rckpt = str(tmp_path / "vec_retract_ckpt")

    def retract():
        q = st.run_embedding_retract(
            st.read_vec_retraction_stream(spark, str(rdir)),
            vectors,
            index,
            rckpt,
            bits=bits,
        )
        q.awaitTermination(180)

    retract()
    surv = spark.read.parquet(vectors)
    assert sorted(r["vec_id"] for r in surv.collect()) == [1, 11]
    got_idx = sorted(tuple(r) for r in spark.read.parquet(index).collect())
    assert got_idx == scratch_index(surv)  # from-scratch equality

    # forced replay of the retraction batch: identical snapshots
    _force_batch_replay(rckpt)
    retract()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(vectors).collect()
    ) == [1, 11]
    assert sorted(tuple(r) for r in spark.read.parquet(index).collect()) == got_idx

    # the retracted DIRECTION re-ingested under a new id is novel
    # again (colinear vectors share every bucket — nothing of vec 3
    # survives in the index to flag it as a dup)
    slice_file("part-0001.parquet", [(30, basis(1, 2.0))])
    ingest()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(vectors).collect()
    ) == [1, 11, 30]

    # second cycle: ingest→retract→ingest→retract state equality
    pq.write_table(
        pa.table({"vec_id": pa.array([1], pa.int64())}), rdir / "rm-1.parquet"
    )
    retract()
    surv2 = spark.read.parquet(vectors)
    assert sorted(r["vec_id"] for r in surv2.collect()) == [11, 30]
    assert sorted(
        tuple(r) for r in spark.read.parquet(index).collect()
    ) == scratch_index(surv2)


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_embedding_retract_maintains_ladder_and_serving_equals_scratch(
    spark, tmp_path
):
    """Ingest-retract-SERVE (the r10 verdict's churn gap): a streamed
    retraction incrementally repairs the persisted kNN graph-ladder
    deposits (similarity.knn_graph_retract — edges incident to removed
    vectors dropped, touched vertices exactly re-ranked over surviving
    level members), after which (a) each maintained deposit equals a
    from-scratch exact build over the survivors ROW-FOR-ROW and (b)
    the online serving loop's answers over the maintained ladder equal
    a descent over a from-scratch ladder build. An INGEST batch with
    graph maintenance (knn_graph_ingest) then lands on the same
    deposits, pinning churn in both directions before the serve."""
    import numpy as np

    from yuki_spark.operators import similarity as sim

    rng = np.random.RandomState(11)
    n, k, beam, entry_mod = 64, 3, 4, 16
    vecs = rng.standard_normal((n, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    vectors = str(tmp_path / "vectors")
    index = str(tmp_path / "emb_index")
    l0 = str(tmp_path / "graph_l0")
    l1 = str(tmp_path / "graph_l1")
    bits = 6

    def exact(frame):
        return sim.cosine_topk(frame, k=k, n_queries=10**9)

    df.write.parquet(vectors)
    sim.nd_bucket_rows(df, bits).write.parquet(index)
    exact(df).write.parquet(l0)
    exact(df.where(F.col("vec_id") % 4 == 0)).write.parquet(l1)

    # retract an l1 member (4) and a ground-only vector (17)
    rdir = tmp_path / "vec_retract_stream"
    rdir.mkdir()
    pq.write_table(
        pa.table({"vec_id": pa.array([4, 17], pa.int64())}),
        rdir / "rm-0.parquet",
    )
    q = st.run_embedding_retract(
        st.read_vec_retraction_stream(spark, str(rdir)),
        vectors,
        index,
        str(tmp_path / "vec_retract_ckpt"),
        bits=bits,
        graph_paths=[(l0, k, 1), (l1, k, 4)],
    )
    q.awaitTermination(180)

    surv = spark.read.parquet(vectors)
    assert sorted(r["vec_id"] for r in surv.collect()) == sorted(
        set(range(n)) - {4, 17}
    )
    # (a) maintained deposits == from-scratch exact builds
    assert sorted(tuple(r) for r in spark.read.parquet(l0).collect()) == sorted(
        tuple(r) for r in exact(surv).collect()
    )
    scratch_l1 = exact(surv.where(F.col("vec_id") % 4 == 0))
    assert sorted(tuple(r) for r in spark.read.parquet(l1).collect()) == sorted(
        tuple(r) for r in scratch_l1.collect()
    )

    # INGEST direction: two novel vectors (204 is an l1 member) land
    # through the ingest loop with graph maintenance — both deposits
    # must equal from-scratch exact builds over the grown pool
    sdir = tmp_path / "emb_stream"
    sdir.mkdir()
    newrows = [
        (200, [float(x) for x in rng.standard_normal(64)], 0),
        (204, [float(x) for x in rng.standard_normal(64)], 0),
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in newrows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in newrows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(newrows), pa.int32()),
            }
        ),
        sdir / "in-0.parquet",
    )
    iq = st.run_embedding_ingest(
        st.read_embedding_stream(spark, str(sdir)),
        vectors,
        index,
        str(tmp_path / "emb_ingest_ckpt"),
        threshold=0.95,
        bits=bits,
        graph_paths=[(l0, k, 1), (l1, k, 4)],
    )
    iq.awaitTermination(180)
    surv = spark.read.parquet(vectors)
    assert sorted(r["vec_id"] for r in surv.collect()) == sorted(
        set(range(n)) - {4, 17} | {200, 204}
    )
    assert sorted(tuple(r) for r in spark.read.parquet(l0).collect()) == sorted(
        tuple(r) for r in exact(surv).collect()
    )
    scratch_l1 = exact(surv.where(F.col("vec_id") % 4 == 0))
    assert sorted(tuple(r) for r in spark.read.parquet(l1).collect()) == sorted(
        tuple(r) for r in scratch_l1.collect()
    )

    # UPDATE: vec 204 re-ingested with a DIFFERENT embedding — the
    # maintain hook's retract-then-ingest must shed its stale edges
    # (and any edge pointing at its old version) before the merge, so
    # both deposits still equal from-scratch builds over the new pool
    updrow = [(204, [float(x) for x in rng.standard_normal(64)], 0)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([204], pa.int64()),
                "embedding": pa.array(
                    [updrow[0][1]], pa.list_(pa.float32())
                ),
                "label": pa.array([0], pa.int32()),
            }
        ),
        sdir / "in-1.parquet",
    )
    iq = st.run_embedding_ingest(
        st.read_embedding_stream(spark, str(sdir)),
        vectors,
        index,
        str(tmp_path / "emb_ingest_ckpt"),
        threshold=0.95,
        bits=bits,
        graph_paths=[(l0, k, 1), (l1, k, 4)],
    )
    iq.awaitTermination(180)
    surv = spark.read.parquet(vectors)
    got204 = [
        r["embedding"]
        for r in surv.where(F.col("vec_id") == 204).collect()
    ]
    assert len(got204) == 1 and abs(got204[0][0] - updrow[0][1][0]) < 1e-6
    assert sorted(tuple(r) for r in spark.read.parquet(l0).collect()) == sorted(
        tuple(r) for r in exact(surv).collect()
    )
    scratch_l1 = exact(surv.where(F.col("vec_id") % 4 == 0))
    assert sorted(tuple(r) for r in spark.read.parquet(l1).collect()) == sorted(
        tuple(r) for r in scratch_l1.collect()
    )

    # (b) serve external queries over the MAINTAINED ladder; answers
    # equal hnsw_descent over a from-scratch ladder on the survivors
    qdir = tmp_path / "query_stream"
    qdir.mkdir()
    qrows = [(1000 + i, [float(x) for x in rng.standard_normal(64)], 0) for i in range(5)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in qrows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in qrows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(qrows), pa.int32()),
            }
        ),
        qdir / "q-0.parquet",
    )
    snap = str(tmp_path / "answers")
    sq = st.run_ann_serving(
        st.read_embedding_stream(spark, str(qdir)),
        surv,
        [spark.read.parquet(l1), spark.read.parquet(l0)],
        snap,
        str(tmp_path / "serve_ckpt"),
        k=k,
        beam=beam,
        entry_mod=entry_mod,
    )
    sq.awaitTermination(180)
    qdf = spark.createDataFrame(
        qrows, "vec_id long, embedding array<float>, label int"
    )
    want = sim.hnsw_descent(
        surv,
        [scratch_l1, exact(surv)],
        k=k,
        beam=beam,
        entry_mod=entry_mod,
        queries=qdf,
    )
    assert sorted(tuple(r) for r in spark.read.parquet(snap).collect()) == sorted(
        tuple(r) for r in want.collect()
    )


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_corpus_label_ingest_and_retract_maintain_cc_labels(spark, tmp_path):
    """KEEP-ALL near-dup bookkeeping (run_corpus_label_ingest /
    run_corpus_label_retract): documents are never dropped; the pair
    and CC-label tables are maintained incrementally
    (relabel_after_addition / relabel_after_removal) and provably
    equal a from-scratch dedup_clusters(minhash_lsh_pairs(corpus))
    build after every step of an ingest/ingest/replay/retract/retract/
    re-ingest interleaving — merges, splits, evaporation and
    re-admission all crossed."""
    from yuki_spark.operators import dedup as dd

    sdir = tmp_path / "doc_stream"
    sdir.mkdir()
    rdir = tmp_path / "retract_stream"
    rdir.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    labels = str(tmp_path / "labels")

    TA = "the quick brown fox jumps over the lazy dog"
    TB = "completely different words entirely unrelated text here"
    TC = "a third genuinely distinct document body of tokens"

    def doc_slice(name, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    ickpt = str(tmp_path / "ingest_ckpt")

    def ingest():
        q = st.run_corpus_label_ingest(
            st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
            corpus,
            index,
            pairs,
            labels,
            ickpt,
            threshold=0.8,
        )
        q.awaitTermination(180)

    rckpt = str(tmp_path / "retract_ckpt")

    def retract():
        q = st.run_corpus_label_retract(
            st.read_retraction_stream(spark, str(rdir)),
            corpus,
            index,
            pairs,
            labels,
            rckpt,
            threshold=0.8,
        )
        q.awaitTermination(180)

    def assert_scratch_equal():
        c = spark.read.parquet(corpus)
        got = sorted(tuple(r) for r in spark.read.parquet(labels).collect())
        want = sorted(
            tuple(r)
            for r in dd.dedup_clusters(
                dd.minhash_lsh_pairs(c, 0.8).select("doc_a", "doc_b")
            ).collect()
        )
        assert got == want
        return dict(got)

    # batch 1: three distinct docs -> no pairs, empty labels
    doc_slice("part-0000.parquet", [(1, TA), (3, TB), (5, TC)])
    ingest()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 3, 5]
    assert assert_scratch_equal() == {}

    # batch 2: 7 and 11 duplicate TA (intra pair 7-11, cross 1-7/1-11),
    # 9 duplicates TB (cross 3-9) -> components {1,7,11} and {3,9};
    # every doc KEPT (the loop labels, it does not drop)
    doc_slice("part-0001.parquet", [(7, TA), (9, TB), (11, TA)])
    ingest()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 3, 5, 7, 9, 11]
    m = assert_scratch_equal()
    assert m == {1: 1, 7: 1, 11: 1, 3: 3, 9: 3}

    # forced replay of batch 2: identical state everywhere
    _force_batch_replay(ickpt)
    ingest()
    m = assert_scratch_equal()
    assert m == {1: 1, 7: 1, 11: 1, 3: 3, 9: 3}

    # retract 1 (a component's min-id label): {7,11} relabels at 7
    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64())}), rdir / "rm-0.parquet"
    )
    retract()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [3, 5, 7, 9, 11]
    m = assert_scratch_equal()
    assert m == {7: 7, 11: 7, 3: 3, 9: 3}

    # retract 7 AND 9: {11} evaporates, {3} evaporates
    pq.write_table(
        pa.table({"doc_id": pa.array([7, 9], pa.int64())}), rdir / "rm-1.parquet"
    )
    retract()
    m = assert_scratch_equal()
    assert m == {}

    # re-ingest TA under a new id: pairs with the surviving 11 again
    doc_slice("part-0002.parquet", [(21, TA)])
    ingest()
    m = assert_scratch_equal()
    assert m == {11: 11, 21: 11}

    # UPDATE: doc 21 re-ingested with TB — its stale pair with 11 must
    # be retracted (no clustering on vanished content), and its NEW
    # text pairs it with the surviving TB holder, doc 3
    doc_slice("part-0003.parquet", [(21, TB)])
    ingest()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [3, 5, 11, 21]
    m = assert_scratch_equal()
    assert m == {3: 3, 21: 3}  # 11 evaporated, 21 re-clustered on TB

    # UPDATE back to TA: the 11-pair re-forms, the 3-pair dissolves
    doc_slice("part-0004.parquet", [(21, TA)])
    ingest()
    m = assert_scratch_equal()
    assert m == {11: 11, 21: 11}


def test_corpus_label_ingest_fails_loud_on_missing_primary(spark, tmp_path):
    """A missing corpus snapshot beside surviving derived snapshots is
    an unrecoverable state (primary data cannot be derived back): the
    labeling ingest must refuse to silently reinitialize the pair and
    label history from one batch."""
    import shutil

    sdir = tmp_path / "doc_stream"
    sdir.mkdir()
    corpus = str(tmp_path / "corpus")
    paths = [str(tmp_path / p) for p in ("index", "pairs", "labels")]

    def doc_slice(name, rows):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["s"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, sdir / name)
        time.sleep(0.05)

    def ingest(ckpt):
        q = st.run_corpus_label_ingest(
            st.read_document_stream(spark, str(sdir), max_files_per_trigger=1),
            corpus,
            *paths,
            str(tmp_path / ckpt),
            threshold=0.8,
        )
        q.awaitTermination(180)

    doc_slice("part-0000.parquet", [(1, "alpha beta gamma delta tokens")])
    ingest("ck1")
    assert spark.read.parquet(corpus).count() == 1

    shutil.rmtree(corpus)  # lose the primary, keep the derived state
    doc_slice("part-0001.parquet", [(2, "some other words entirely")])
    with pytest.raises(Exception, match="refusing to reinitialize"):
        ingest("ck2")


def test_corpus_label_retract_heals_missing_derived_snapshots(spark, tmp_path):
    """The labeling loops' derived-data heal rule: index, pairs and
    labels snapshots lost after a crash are rebuilt from the corpus by
    the next retraction batch, and the retraction applied on top still
    equals the from-scratch build over the survivors."""
    import shutil

    from yuki_spark.operators import dedup as dd

    sdir = tmp_path / "doc_stream"
    sdir.mkdir()
    rdir = tmp_path / "retract_stream"
    rdir.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    labels = str(tmp_path / "labels")

    TA = "the quick brown fox jumps over the lazy dog"
    TB = "completely different words entirely unrelated text here"
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array([TA, TA, TB]),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["s"] * 3),
            "n_chars": pa.array([len(TA), len(TA), len(TB)], pa.int64()),
        }
    )
    pq.write_table(tbl, sdir / "part-0000.parquet")
    q = st.run_corpus_label_ingest(
        st.read_document_stream(spark, str(sdir)),
        corpus,
        index,
        pairs,
        labels,
        str(tmp_path / "ickpt"),
        threshold=0.8,
    )
    q.awaitTermination(180)
    assert dict(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(labels).collect()
    ) == {1: 1, 2: 1}

    # crash aftermath: every DERIVED snapshot lost, corpus intact
    for p in (index, pairs, labels):
        shutil.rmtree(p)

    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64())}), rdir / "rm-0.parquet"
    )
    rq = st.run_corpus_label_retract(
        st.read_retraction_stream(spark, str(rdir)),
        corpus,
        index,
        pairs,
        labels,
        str(tmp_path / "rckpt"),
        threshold=0.8,
    )
    rq.awaitTermination(180)
    surv = spark.read.parquet(corpus)
    assert sorted(r["doc_id"] for r in surv.collect()) == [2, 3]
    # all three derived snapshots healed AND retracted correctly
    assert sorted(
        tuple(r) for r in spark.read.parquet(index).collect()
    ) == sorted(tuple(r) for r in dd.band_index(dd.token_sets(surv)).collect())
    assert spark.read.parquet(pairs).count() == 0  # the 1-2 pair died
    assert spark.read.parquet(labels).count() == 0  # 2's component evaporated


def test_embedding_retract_heals_missing_index(spark, tmp_path):
    """run_embedding_retract's derived-data heal rule: a lost index
    snapshot is rebuilt from the intact vectors snapshot (fixed bit
    width) before the removal applies — the surviving index equals a
    from-scratch build over the survivors."""
    import shutil

    from yuki_spark.operators import similarity as sim

    rng_rows = [(i, [float(i + 1)] * 64, 0) for i in range(6)]
    df = spark.createDataFrame(
        rng_rows, "vec_id long, embedding array<float>, label int"
    )
    vectors = str(tmp_path / "vectors")
    index = str(tmp_path / "emb_index")
    bits = 6
    df.write.parquet(vectors)
    sim.nd_bucket_rows(df, bits).write.parquet(index)
    shutil.rmtree(index)  # crash aftermath: derived snapshot lost

    rdir = tmp_path / "vec_retract_stream"
    rdir.mkdir()
    pq.write_table(
        pa.table({"vec_id": pa.array([2, 5], pa.int64())}), rdir / "rm.parquet"
    )
    q = st.run_embedding_retract(
        st.read_vec_retraction_stream(spark, str(rdir)),
        vectors,
        index,
        str(tmp_path / "ckpt"),
        bits=bits,
    )
    q.awaitTermination(180)
    surv = spark.read.parquet(vectors)
    assert sorted(r["vec_id"] for r in surv.collect()) == [0, 1, 3, 4]
    assert sorted(
        tuple(r) for r in spark.read.parquet(index).collect()
    ) == sorted(tuple(r) for r in sim.nd_bucket_rows(surv, bits).collect())


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_embedding_retract_lsh_repair_mode_plumbs_through(spark, tmp_path):
    """graph_paths entries accept a 4th repair-mode element (r12):
    "lsh" routes the per-batch deposit maintenance through the s11
    bucket machinery (similarity.knn_graph_retract repair="lsh") —
    the bounded ground-level choice at scale. At the demo grain the
    repair must stay CONSERVATIVE: removed vectors vanish from qid
    and cid, untouched vertices keep rows verbatim, and every touched
    vertex's cosine multiset dominates its surviving edges (the
    candidate set is a superset of them)."""
    import numpy as np

    from yuki_spark.operators import similarity as sim

    rng = np.random.RandomState(29)
    n, k = 64, 3
    vecs = rng.standard_normal((n, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    vectors = str(tmp_path / "vectors")
    index = str(tmp_path / "emb_index")
    l0 = str(tmp_path / "graph_l0")
    bits = 6
    df.write.parquet(vectors)
    sim.nd_bucket_rows(df, bits).write.parquet(index)
    g0 = sim.cosine_topk(df, k=k, n_queries=10**9)
    g0.write.parquet(l0)
    g0_rows, touched = {}, set()
    removed = {4, 17}
    for r in g0.collect():
        g0_rows.setdefault(r["qid"], []).append(r)
        if r["cid"] in removed:
            touched.add(r["qid"])
    assert touched

    rdir = tmp_path / "vec_retract_stream"
    rdir.mkdir()
    pq.write_table(
        pa.table({"vec_id": pa.array(sorted(removed), pa.int64())}),
        rdir / "rm-0.parquet",
    )
    q = st.run_embedding_retract(
        st.read_vec_retraction_stream(spark, str(rdir)),
        vectors,
        index,
        str(tmp_path / "vec_retract_ckpt"),
        bits=bits,
        graph_paths=[(l0, k, 1, "lsh")],
    )
    q.awaitTermination(180)

    got = {}
    for r in spark.read.parquet(l0).collect():
        assert r["qid"] not in removed and r["cid"] not in removed
        got.setdefault(r["qid"], []).append(r)
    for qid, grp in g0_rows.items():
        if qid in removed:
            continue
        if qid not in touched:
            assert sorted(
                (r["rk"], r["cid"], r["cosine"]) for r in grp
            ) == sorted((r["rk"], r["cid"], r["cosine"]) for r in got[qid])
        else:
            surviving = sorted(
                (r["cosine"] for r in grp if r["cid"] not in removed),
                reverse=True,
            )
            new = sorted((r["cosine"] for r in got.get(qid, [])), reverse=True)
            assert len(new) >= len(surviving)
            assert all(nc >= sc for nc, sc in zip(new, surviving))

    # the bucket SIDECAR (r12): healed at the sidecar's frozen width,
    # pruned of the retracted ids, and byte-equal to a from-scratch
    # recompute over the survivors at that width — the deposit that
    # removes the per-batch plane scan from subsequent batches
    surv_df = spark.read.parquet(vectors)
    side = spark.read.parquet(l0 + "_buckets")
    np_ = side.select("n_planes").first()["n_planes"]
    assert np_ == sim.adaptive_planes(n - len(removed))
    want_b = sorted(
        (r["vec_id"], r["bucket"])
        for r in sim._sign_bucketed(surv_df, np_)
        .select("vec_id", "bucket")
        .collect()
    )
    assert sorted((r["vec_id"], r["bucket"]) for r in side.collect()) == want_b

    # an INGEST batch through the maintenance hook now reads the
    # sidecar instead of re-bucketing, appends the batch at the SAME
    # frozen width, and the maintained sidecar equals a from-scratch
    # recompute over the grown pool at that width
    sdir = tmp_path / "emb_stream"
    sdir.mkdir()
    newrows = [(200, [float(x) for x in rng.standard_normal(64)], 0)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in newrows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in newrows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(newrows), pa.int32()),
            }
        ),
        sdir / "in-0.parquet",
    )
    iq = st.run_embedding_ingest(
        st.read_embedding_stream(spark, str(sdir)),
        vectors,
        index,
        str(tmp_path / "emb_ingest_ckpt"),
        threshold=0.95,
        bits=bits,
        graph_paths=[(l0, k, 1, "lsh")],
    )
    iq.awaitTermination(180)
    full = spark.read.parquet(vectors)
    side2 = spark.read.parquet(l0 + "_buckets")
    assert side2.select("n_planes").first()["n_planes"] == np_  # frozen
    want_b2 = sorted(
        (r["vec_id"], r["bucket"])
        for r in sim._sign_bucketed(full, np_)
        .select("vec_id", "bucket")
        .collect()
    )
    assert (
        sorted((r["vec_id"], r["bucket"]) for r in side2.collect()) == want_b2
    )
    # and the graph gained the new vertex (bucket mates or fallback)
    assert any(r["qid"] == 200 for r in spark.read.parquet(l0).collect())

    # crash replay: force the ingest batch to RE-EXECUTE against the
    # already-merged snapshots — the sidecar maintenance is anti-join
    # + fixed-width re-bucketing (pure per-vector), so the replayed
    # batch must leave sidecar AND graph byte-stable
    before_side = sorted(map(tuple, side2.collect()))
    before_graph = sorted(
        map(tuple, spark.read.parquet(l0).collect())
    )
    _force_batch_replay(str(tmp_path / "emb_ingest_ckpt"))
    rq = st.run_embedding_ingest(
        st.read_embedding_stream(spark, str(sdir)),
        vectors,
        index,
        str(tmp_path / "emb_ingest_ckpt"),
        threshold=0.95,
        bits=bits,
        graph_paths=[(l0, k, 1, "lsh")],
    )
    rq.awaitTermination(180)
    assert sorted(
        map(tuple, spark.read.parquet(l0 + "_buckets").collect())
    ) == before_side
    assert sorted(map(tuple, spark.read.parquet(l0).collect())) == before_graph


def test_lsh_bucket_sidecar_heals_partial_coverage(spark, tmp_path):
    """A PARTIAL sidecar (e.g. the deposit advanced with repair="exact"
    for some batches — those never touch the sidecar — then switched
    back to "lsh") must be healed on read, not trusted: pool vectors
    absent from it are signed at the FROZEN width and appended,
    because _lsh_pool's inner join would otherwise silently drop them
    from the repair candidate pool with no signal (r12 advice)."""
    import numpy as np

    from pyspark.sql import functions as F

    from yuki_spark.operators import similarity as sim

    rng = np.random.RandomState(31)
    n = 48
    vecs = rng.standard_normal((n, 16)).astype("float32")
    pool = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    # freeze a width DIFFERENT from what adaptive_planes(n) would pick,
    # so the heal provably reads the frozen width off the sidecar
    np_frozen = sim.adaptive_planes(n) + 2
    full = sim._sign_bucketed(pool, np_frozen).select("vec_id", "bucket")
    bpath = str(tmp_path / "graph_l0_buckets")
    # persist a sidecar covering only the even half of the pool
    full.where(F.col("vec_id") % 2 == 0).withColumn(
        "n_planes", F.lit(np_frozen).cast("int")
    ).write.parquet(bpath)

    healed, np_got = st._lsh_bucket_sidecar(spark, bpath, pool)
    assert np_got == np_frozen
    assert sorted(map(tuple, healed.collect())) == sorted(
        map(tuple, full.collect())
    )

    # and the OTHER direction: rows for vectors no longer in the pool
    # (left behind by exact-mode batches that never touch the sidecar)
    # are pruned on read, so the persisted deposit cannot accumulate
    # dead vectors without bound
    bpath2 = str(tmp_path / "graph_l0b_buckets")
    dead = spark.createDataFrame(
        [(900, 0), (901, 3)], "vec_id long, bucket long"
    )
    full.unionByName(dead).withColumn(
        "n_planes", F.lit(np_frozen).cast("int")
    ).write.parquet(bpath2)
    healed2, np2 = st._lsh_bucket_sidecar(spark, bpath2, pool)
    assert np2 == np_frozen
    assert sorted(map(tuple, healed2.collect())) == sorted(
        map(tuple, full.collect())
    )
