"""Generic content-addressed reuse of query artifacts — the engine
eating its own O5 dogfood (SURVEY §2.1: ImpressionStore,
skip-if-deposited) at the QUERY layer.

Two families consume this machinery:

- :mod:`.dedup_family` — the documents near-dup pipeline (set groups,
  token sets, verified pairs, CC labels) shared by d2/d3/d11/d20/d33;
- :mod:`.sim_family`  — ANN index results (exact/LSH/IVF/PQ top-k,
  the kNN graph) shared by s3/s4/s8/s11 and their evaluation
  harnesses s6/s12.

Contract: an artifact's address is a sha over (key, family version,
dep ids) where the dep ids start from a TABLE FINGERPRINT (part-file
relpaths + byte sizes + mtimes + footer probes + any parameters). A
regenerated input or changed parameter produces a new address and a
fresh compute — never a stale reuse; a changed builder requires a
family-version bump (the store's O5 contract). An unwritable store root degrades to an
unpersisted lazy-checkpointed build: correctness is never hostage to
a disk.
"""
from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import stat as stat_mod
import tempfile
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..catalog import part_identity, table_path
from ..pipeline.impressions import ImpressionStore, impression_id

# PER-ADDRESS build locks (r15: the former single global RLock
# serialized every in-process build, so a caller overlapping four
# INDEPENDENT deposit builds from a thread pool — guide §2.6, s6's
# exact/lsh/ivf/pq cold pass — gained nothing). A lock still
# serializes concurrent builders of the SAME address (the original
# duplicate-write hazard); different addresses build concurrently.
# RE-ENTRANT per address: a builder may itself call deposit_or_reuse
# for an UPSTREAM artifact (the NN-descent chain graph → graph_nnd →
# graph_nnd2) — that nested call takes the upstream address's own
# lock. Deadlock-free across threads because acquisition follows the
# artifact dependency DAG (acyclic): every thread holding lock(X)
# only ever waits on locks of X's ancestors, so a wait cycle would
# require a dependency cycle.
_build_locks: dict[str, threading.RLock] = {}
_build_locks_guard = threading.Lock()


def _build_lock(imp: str) -> threading.RLock:
    with _build_locks_guard:
        return _build_locks.setdefault(imp, threading.RLock())


def default_store_root(env_var: str, name: str) -> str | None:
    """Default on-disk root for a query-artifact family. An explicit
    ``env_var`` override is honored verbatim (the operator's choice —
    on a cluster this points at a shared filesystem). The fallback
    temp-dir path is uid-suffixed and created mode 0700 so another
    local user can neither pre-create it nor plant deposits at
    predictable content addresses; if the path exists but is not
    exclusively ours, returns None — deposit_or_reuse then runs
    store-less (compute-always), trading reuse for integrity."""
    env = os.environ.get(env_var)
    if env:
        return env
    root = os.path.join(tempfile.gettempdir(), f"{name}-{os.getuid()}")
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
        # lstat + S_ISDIR: a pre-planted SYMLINK at the predictable
        # path would pass a follow-symlink stat (the target can be a
        # victim-owned 0700 dir) — the link itself must be a real
        # directory we own, not a redirect
        st = os.lstat(root)
        if (
            not stat_mod.S_ISDIR(st.st_mode)
            or st.st_uid != os.getuid()
            or (st.st_mode & 0o077)
        ):
            return None
    except OSError:
        return None
    return root


def code_fingerprint(*modules) -> str:
    """Hash of the given modules' SOURCE — folded into a family's
    version string so ANY edit to the builder code invalidates its
    deposits automatically (the query-layer analogue of the backend's
    ``plan_hash=True``). Without this, an unbumped manual version
    would let the correctness gates silently validate a STALE
    deposit's output after a code change — the exact regression the
    gates exist to catch. At production scale a deployment that wants
    stable reuse across code releases pins an explicit version
    instead; for the gate corpora recompute-on-edit costs seconds."""
    h = hashlib.sha256()
    for m in modules:
        h.update(inspect.getsource(m).encode())
    return h.hexdigest()[:16]


def table_fingerprint(sf_dir: str, table: str, extra: Any = None) -> str:
    """Identity of one catalog table (plus caller parameters): the
    table's :func:`~yuki_spark.catalog.part_identity` — part-file
    relpaths, byte sizes, mtimes (ns) AND a footer-tail content probe
    — cheap (no data scan) and strict enough that regenerated bytes at
    the same path get a new address even on filesystems whose mtime
    granularity is too coarse to tell rewrites apart. ``extra`` folds
    in whatever parameters shape the artifact (caps, k, probe
    counts)."""
    path = table_path(sf_dir, table)
    payload = json.dumps(
        {"root": os.path.realpath(path), "files": part_identity(path), "extra": extra},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


# NOTE — write-time deposit compaction was BUILT AND REVERTED in r15
# after a controlled A/B refuted the r14-verdict hypothesis that the
# fanned builds' multi-part deposits (11 parts where 2 sufficed) tax
# their readers. Cold-JVM min-of-3, 2 reps each, compacted-to-one-file
# vs as-written: d38 3.51 vs 1.03 s, d36 3.56 vs 2.05 s (compaction is
# a 1.7–3.4x steady LOSS), d39/d22 flat, cold builds +4 s for the
# rewrite. Cause: a small deposit compacted to one single-row-group
# file scans as ONE task, serializing every reader's scan-stage
# pipeline, while the multi-part layout gives readers exactly the
# parallelism the scan fan-out exists to create — per-file open cost
# is noise next to that at any size below the 128 MB split grain. At
# 100 TB deposits exceed split grain and readers parallelize either
# way; compact() remains available as explicit maintenance for true
# thousand-file pathologies.


def deposit_or_reuse(
    spark: SparkSession,
    root: str | None,
    key: str,
    version: str,
    dep_ids: list[str],
    builder: Callable[[], DataFrame],
    computes: dict[str, int],
    name: str,
) -> tuple[DataFrame, str]:
    """Deposit-or-reuse one artifact; returns (DataFrame, address).
    ``computes[name]`` increments exactly when the builder ran — the
    observability hook the reuse tests assert on.

    The build lock serializes in-process builders (run_parallel-style
    concurrency would otherwise race two identical writes). ACROSS
    processes the publish is ATOMIC: the deposit is written under a
    per-pid temp address and renamed into place — a reader can never
    observe a half-written deposit as deposited (meta.json only
    exists inside the temp directory until the rename), and a lost
    race (rename target already exists) discards the temp copy and
    reads the winner — no overwrite of a completed deposit, ever.

    ANY store failure (unwritable root, disk-full mid-write, a
    concurrent sweep) degrades to the unpersisted lazy plan the
    builder produced — correctness is never hostage to a disk. The
    builder runs at most once per call either way."""
    imp = impression_id(key, version, dep_ids)
    store: ImpressionStore | None
    try:
        store = ImpressionStore(root) if root is not None else None
    except OSError:
        store = None
    if store is not None and store.exists(imp):
        return store.read(spark, imp), imp
    with _build_lock(imp):
        if store is not None and store.exists(imp):
            return store.read(spark, imp), imp
        df = builder()
        computes[name] = computes.get(name, 0) + 1
        if store is None:
            return df.localCheckpoint(eager=False), imp
        tmp_id = f"{imp}-tmp{os.getpid()}"
        try:
            store.write(tmp_id, df, meta={"task": key, "deps": dep_ids})
            meta = store.meta(tmp_id)
            meta["impression"] = imp
            with open(os.path.join(store._dir(tmp_id), "meta.json"), "w") as f:
                json.dump(meta, f, indent=2)
            try:
                os.rename(store._dir(tmp_id), store._dir(imp))
            except OSError:
                # lost the cross-process race: the winner's deposit is
                # complete (it was renamed whole) — read theirs
                shutil.rmtree(store._dir(tmp_id), ignore_errors=True)
            return store.read(spark, imp), imp
        except Exception:  # noqa: BLE001 — degrade, never fail the query
            shutil.rmtree(store._dir(tmp_id), ignore_errors=True)
            return df.localCheckpoint(eager=False), imp
