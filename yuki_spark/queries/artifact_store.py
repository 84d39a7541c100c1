"""Generic content-addressed reuse of query artifacts — the engine
eating its own O5 dogfood (SURVEY §2.1: ImpressionStore,
skip-if-deposited) at the QUERY layer.

Five families consume this machinery, each declared once as a
:class:`Family`:

- ``dedup`` (:mod:`.dedup_family`) — the documents near-dup pipeline
  (set groups, token sets, verified pairs, CC labels) shared by
  d2/d3/d4/d11/d20/d33/d50;
- ``sim`` (:mod:`.sim_family`) — ANN index results (exact/LSH/IVF/PQ
  top-k, the kNN graph) shared by the s-keys and their evaluation
  harnesses s6/s12/s17;
- ``lm`` (:mod:`.lm_family`) — trained-model tables: the bigram and
  trigram LM per-doc scores and the quality classifier (d52/d54/d56/
  d59/d60);
- ``bpe`` (:mod:`.docs`) — the BPE-tokenized vocabulary and the
  learned merges (d44/d46/d57/d58), kept in the dedup store root;
- ``pipe`` (:mod:`.curation`) — the composed curation DAG (pl1), whose
  deposits the Pipeline's LocalBackend writes; the family supplies its
  root and its code version only.

Contract: an artifact's address is a sha over (key, family version,
dep ids) where the dep ids start from a TABLE FINGERPRINT (part-file
relpaths + byte sizes + mtimes + footer probes + any parameters). A
regenerated input or changed parameter produces a new address and a
fresh compute — never a stale reuse; the family version folds in the
builder code's hash, so a changed builder does too (the store's O5
contract). An unwritable store root degrades to an unpersisted
lazy-checkpointed build: correctness is never hostage to a disk. How a
deposit is published (atomically, first writer wins) is the
:class:`~yuki_spark.pipeline.impressions.ImpressionStore`'s business.
"""
from __future__ import annotations

import hashlib
import importlib
import inspect
import json
import os
import tempfile
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..catalog import part_identity, table_path
from ..pipeline.impressions import ImpressionStore, impression_id
from ..session import private_dir

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
    return private_dir(os.path.join(tempfile.gettempdir(), f"{name}-{os.getuid()}"))


def code_fingerprint(*modules) -> str:
    """Hash of the given modules' SOURCE (see :class:`Family` for why
    it is folded into every artifact's version)."""
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

    The build lock serializes in-process builders of one address, so
    the builder runs at most once per address per process; across
    processes :meth:`ImpressionStore.write` publishes atomically and
    the first writer wins.

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
        if store is not None:
            try:
                store.write(imp, df, meta={"task": key, "deps": dep_ids})
                return store.read(spark, imp), imp
            except Exception:  # noqa: BLE001 — degrade, never fail the query
                pass
        return df.localCheckpoint(eager=False), imp


FAMILIES: list[Family] = []  # every declared family, in import order


class Family:
    """One artifact store, declared once: ``name`` prefixes its
    artifacts' keys (``"<name>.<artifact>"``), ``env_var`` overrides
    its root, and ``version`` prefixes every artifact's version.

    An artifact's version is ``version + "+" +`` a hash of the source
    of the modules its builder executes (:func:`code_fingerprint`), so
    ANY edit to that code invalidates the deposit automatically: the
    correctness gates can never validate a stale deposit's output
    after a code change (the query-layer analogue of the backend's
    ``plan_hash=True``). Bump ``version`` only for a deliberate
    semantic change that touches none of those modules (e.g. a
    constant moved). At production scale a deployment that wants
    stable reuse across code releases pins an explicit version
    instead; for the gate corpora recompute-on-edit costs seconds."""

    def __init__(self, name: str, env_var: str, version: str):
        self.name, self.env_var, self.version = name, env_var, version
        self.computes: dict[str, int] = {}
        FAMILIES.append(self)

    def root(self) -> str | None:
        """``$env_var`` verbatim, else a private temp-dir root named
        after the env var (families sharing an env var share a root);
        None when that fallback is not exclusively ours."""
        return default_store_root(self.env_var, self.env_var.lower())

    def code_version(self, modules: tuple[str, ...]) -> str:
        """The family version plus the source hash of ``modules``
        (dotted names, imported at call time — so a builder module
        that imports its family module can still be named)."""
        return self.version + "+" + code_fingerprint(
            *(importlib.import_module(m) for m in modules)
        )

    def artifact(
        self,
        spark: SparkSession,
        name: str,
        dep_ids: list[str],
        builder: Callable[[], DataFrame],
        modules: tuple[str, ...],
    ) -> tuple[DataFrame, str]:
        """Deposit-or-reuse artifact ``name`` (see
        :func:`deposit_or_reuse` for the locking and degraded-disk
        contract); ``modules`` are the dotted names of every module
        the builder executes. Returns (DataFrame, address).

        Concurrency rule: callers overlap independent builds on thread
        pools over ONE session, so builders may run concurrently and
        must not mutate session conf. A builder may call another
        artifact's accessor on its own thread (nested builds), never
        from a second thread it starts."""
        return deposit_or_reuse(
            spark,
            self.root(),
            f"{self.name}.{name}",
            self.code_version(modules),
            dep_ids,
            builder,
            self.computes,
            name,
        )
