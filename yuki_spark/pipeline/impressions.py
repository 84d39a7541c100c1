"""Impression store: content-addressed versioned parquet snapshots.

Parity with Yuki's ImpressionStorage
(/root/reference/Yuki/kernel/impression_storage.py:7): an
"impression" is an immutable, addressable artifact of a task run. Here
the address is a sha256 over (task name, task version, and the
impression ids of its dependencies) — so any upstream change produces
a new impression, and an unchanged subgraph is *reused* (Yuki's
"deposited" state → our ``reused`` status) instead of recomputed.

Storage layout::

    <root>/<impression_id>/data.parquet   (snappy parquet, partitioned)
    <root>/<impression_id>/meta.json      (lineage + schema + tags)
    <root>/.tmp-<impression_id>-<uuid>/    (a write in flight, see write)

``watermark`` tags an impression's metadata (Yuki's PIL watermark has
no data-engine meaning; a metadata tag is the Spark-native analogue).
"""
from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def impression_id(
    task_name: str, version: str, dep_ids: list[str], plan: str | None = None
) -> str:
    """Content address of a task run.

    Default contract: the address covers (name, version, dep
    addresses) only — a changed ``fn`` body with an unbumped
    ``version`` resolves to the SAME address and reuses the old
    deposit. Bump ``Task.version`` on any semantic change, or run the
    backend with ``plan_hash=True`` to fold the task's canonicalized
    logical plan into the address so code changes invalidate
    automatically (plan strings are canonicalized by stripping the
    session-local expression ids Spark appends as ``#<n>``)."""
    doc = {"task": task_name, "version": version, "deps": sorted(dep_ids)}
    if plan is not None:
        doc["plan"] = hashlib.sha256(
            re.sub(r"#\d+", "#", plan).encode()
        ).hexdigest()
    payload = json.dumps(doc, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


_TMP_PREFIX = ".tmp-"  # in-flight writes: never an impression id


def _write_meta(imp_dir: str, doc: dict[str, Any]) -> None:
    """Replace ``imp_dir``/meta.json with ``doc`` atomically: a reader
    sees the old meta or the new one, never a truncated file."""
    path = os.path.join(imp_dir, "meta.json")
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=2)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


class ImpressionStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # per-impression locks: a read's crash-heal must never
        # interleave with a concurrent compact()'s rename swap (the
        # heal would "restore" the mid-swap .old and break the swap);
        # run_parallel/run_async make concurrent reads real
        self._locks: dict[str, threading.RLock] = {}
        self._locks_guard = threading.Lock()

    def _lock(self, imp_id: str) -> threading.RLock:
        with self._locks_guard:
            return self._locks.setdefault(imp_id, threading.RLock())

    def _dir(self, imp_id: str) -> str:
        return os.path.join(self.root, imp_id)

    def exists(self, imp_id: str) -> bool:
        return os.path.exists(os.path.join(self._dir(imp_id), "meta.json"))

    def _inventory(self, imp_dir: str) -> dict[str, Any]:
        """Recorded-integrity snapshot of the data files under one
        impression directory: per-part byte sizes plus the total row
        count from the parquet FOOTERS (no Spark job — footer reads are
        metadata-only, cheap at any deposit size)."""
        import pyarrow.parquet as pq

        base = os.path.join(imp_dir, "data.parquet")
        files: dict[str, int] = {}
        unreadable: list[str] = []
        n_rows = 0
        for dirpath, _, fns in os.walk(base):
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, base)
                files[rel] = os.path.getsize(full)
                try:
                    n_rows += pq.ParquetFile(full).metadata.num_rows
                except Exception:  # noqa: BLE001 — damage is data, not an error, to fsck
                    unreadable.append(rel)
        return {"files": files, "n_rows": n_rows, "unreadable": unreadable}

    def write(
        self,
        imp_id: str,
        df: DataFrame,
        meta: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> str:
        """Materialize a DataFrame as an immutable impression. The
        meta records an integrity inventory (per-file sizes + footer
        row count) that :meth:`verify` checks deposits against.

        The publish is ATOMIC: data and meta.json are written into a
        temp directory unique to this call, then renamed to the
        address whole, so no reader (in this process or another) ever
        sees a half-written deposit as deposited, and a failed write
        leaves nothing behind. First writer wins: when a completed
        deposit already holds the address, this copy is discarded and
        the deposit stays exactly as it was. Returns the deposit's
        data path."""
        tmp = os.path.join(self.root, f"{_TMP_PREFIX}{imp_id}-{uuid.uuid4().hex}")
        try:
            writer = df.write
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(os.path.join(tmp, "data.parquet"))
            inv = self._inventory(tmp)
            if inv.pop("unreadable"):
                raise RuntimeError(
                    f"impression {imp_id}: freshly written part files are "
                    "unreadable — failed write"
                )
            doc = {
                "impression": imp_id,
                "created_at": time.time(),
                "schema": df.schema.jsonValue(),
                "partition_by": list(partition_by or []),  # compact() re-applies
                "integrity": inv,
                "tags": {},
                **(meta or {}),
            }
            _write_meta(tmp, doc)
            self._publish(tmp, imp_id)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return os.path.join(self._dir(imp_id), "data.parquet")

    def _publish(self, tmp: str, imp_id: str) -> None:
        """Rename a complete temp impression to its address, unless a
        completed deposit is already there. A directory at the address
        without meta.json is not a deposit: the logs-only directory a
        failed run's :meth:`write_logs` leaves (its files move into
        the temp copy, so logs.json survives), or the partial data of
        an interrupted in-place write (dropped). The emptied directory
        is then replaced by the rename; if another writer's rename
        lands first, theirs stands."""
        final = self._dir(imp_id)
        with self._lock(imp_id):
            if self.exists(imp_id):
                return
            if os.path.isdir(final):
                for fn in os.listdir(final):
                    if os.path.exists(os.path.join(tmp, fn)):
                        shutil.rmtree(os.path.join(final, fn))
                    else:
                        os.rename(os.path.join(final, fn), os.path.join(tmp, fn))
            try:
                os.rename(tmp, final)
            except OSError:
                if not self.exists(imp_id):
                    raise

    def verify(self, imp_id: str, deep: bool = False) -> dict[str, Any]:
        """Integrity check of a deposited impression against its
        recorded inventory — the store's fsck (a deposit is immutable,
        so ANY divergence is damage: bit-rot, a partial restore, a
        manual edit). Checks: every recorded part file exists at its
        recorded size, no unrecorded part files appeared, and the
        parquet-footer row count matches. ``deep=True`` additionally
        opens every part's footer (catches truncation that preserved
        the byte count). Returns ``{"ok": bool, "problems": [...]}`` —
        report, don't raise: the caller decides whether a damaged
        deposit is dropped (gc) or restored. Deposits written before
        inventories were recorded report a single 'no inventory'
        problem rather than false corruption."""
        if not self.exists(imp_id):
            raise FileNotFoundError(f"impression {imp_id} not deposited")
        # hold the compact lock AND the per-impression lock for the
        # whole heal + meta read + inventory walk: a concurrent
        # compact() swap landing mid-walk would otherwise yield
        # spurious missing/unrecorded-part and row-count "damage" on a
        # healthy deposit (lock order matches compact(): #compact
        # first, then the heal's per-impression lock — no inversion)
        with self._lock(imp_id + "#compact"), self._lock(imp_id):
            self._heal_swap(imp_id)
            recorded = self.meta(imp_id).get("integrity")
            if not recorded:
                return {
                    "ok": False,
                    "problems": ["no inventory recorded (pre-integrity deposit)"],
                }
            problems: list[str] = []
            current = self._inventory(self._dir(imp_id))
            for rel in current["unreadable"]:
                problems.append(f"{rel}: unreadable parquet footer")
            for rel, size in recorded["files"].items():
                got = current["files"].get(rel)
                if got is None:
                    problems.append(f"missing part file {rel}")
                elif got != size:
                    problems.append(f"{rel}: {got} bytes, recorded {size}")
            for rel in current["files"]:
                if rel not in recorded["files"]:
                    problems.append(f"unrecorded part file {rel}")
            if not current["unreadable"] and current["n_rows"] != recorded["n_rows"]:
                problems.append(
                    f"row count {current['n_rows']}, recorded {recorded['n_rows']}"
                )
            if deep and not problems:
                import pyarrow.parquet as pq

                base = os.path.join(self._dir(imp_id), "data.parquet")
                for rel in recorded["files"]:
                    try:
                        pq.ParquetFile(os.path.join(base, rel)).schema_arrow
                    except Exception as e:  # noqa: BLE001 — fsck reports, never raises
                        problems.append(f"{rel}: unreadable ({e})")
            return {"ok": not problems, "problems": problems}

    def read(self, spark: SparkSession, imp_id: str) -> DataFrame:
        """Yuki ``collect``: load a deposited impression (healing any
        interrupted-compaction state first — see _heal_swap). The read
        applies the RECORDED schema from meta.json, so a
        hive-partitioned deposit comes back with the exact column
        types (and order) it was written with — directory-name type
        inference never rewrites a string partition value into an
        int/date."""
        if not self.exists(imp_id):
            raise FileNotFoundError(f"impression {imp_id} not deposited")
        from pyspark.sql.types import StructType

        base_dir, _, _ = self._heal_swap(imp_id)
        schema = StructType.fromJson(self.meta(imp_id)["schema"])
        return spark.read.schema(schema).parquet(base_dir)

    def meta(self, imp_id: str) -> dict[str, Any]:
        with open(os.path.join(self._dir(imp_id), "meta.json")) as f:
            return json.load(f)

    def write_logs(self, imp_id: str, logs: dict[str, Any]) -> str:
        """Deposit a task's run artifacts (explain string, observed
        metrics, error) next to its data — parity with Yuki's per-job
        log collection into the impression
        (/root/reference/Yuki/kernel/impression_storage.py:57
        ``collect_logs``; VJob.py:199 ``_write_step_logs``). Works for
        failed tasks too: the directory is created even when no data
        was deposited, so the failure artifact is findable at the
        task's content address. A logs-only directory is not a
        deposited impression (``exists`` stays False)."""
        os.makedirs(self._dir(imp_id), exist_ok=True)
        path = os.path.join(self._dir(imp_id), "logs.json")
        with open(path, "w") as f:
            json.dump(logs, f, indent=2, default=str)
        return path

    def logs(self, imp_id: str) -> dict[str, Any] | None:
        path = os.path.join(self._dir(imp_id), "logs.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def preview(
        self, spark: SparkSession, imp_id: str, n: int = 10
    ) -> dict[str, Any]:
        """Human-readable monitoring view of a deposited impression —
        parity with Yuki's ``impview`` route
        (/root/reference/Yuki/server/routes/status.py:220), which
        renders an impression's files with capped previews. Returns::

            {"impression": id, "created_at": ts, "tags": {...},
             "schema": [(name, type), ...],
             "head": [ {col: val, ...}, ... ],          # first n rows
             "files": [ {"path": rel, "bytes": sz}, ...],  # sorted
             "logs": <logs.json path or None>}

        The head is a bounded ``limit(n)`` collect (the only
        driver-side rows; a preview is inherently driver-sized), the
        file listing is a local walk of the impression directory, and
        the logs pointer mirrors impview's logs section without
        inlining potentially-large artifacts."""
        m = self.meta(imp_id)  # raises if not deposited
        head = [
            r.asDict(recursive=True)
            for r in self.read(spark, imp_id).limit(n).collect()
        ]
        base = self._dir(imp_id)
        files = sorted(
            (
                {
                    "path": os.path.relpath(os.path.join(dp, fn), base),
                    "bytes": os.path.getsize(os.path.join(dp, fn)),
                }
                for dp, _, fns in os.walk(base)
                for fn in fns
            ),
            key=lambda f: f["path"],
        )
        logs_path = os.path.join(base, "logs.json")
        return {
            "impression": imp_id,
            "created_at": m.get("created_at"),
            "tags": m.get("tags", {}),
            "schema": [
                (f["name"], f["type"]) for f in m["schema"]["fields"]
            ],
            "head": head,
            "files": files,
            "logs": logs_path if os.path.exists(logs_path) else None,
        }

    def watermark(self, imp_id: str, key: str, value: str) -> None:
        """Tag an impression (Yuki watermark analogue)."""
        m = self.meta(imp_id)
        m.setdefault("tags", {})[key] = value
        _write_meta(self._dir(imp_id), m)

    def list_ids(self) -> list[str]:
        # an in-flight write's temp directory holds meta.json before
        # its rename: never an impression
        return sorted(
            d
            for d in os.listdir(self.root)
            if not d.startswith(_TMP_PREFIX) and self.exists(d)
        )

    def drop(self, imp_id: str) -> None:
        shutil.rmtree(self._dir(imp_id), ignore_errors=True)

    def archive(self, imp_id: str) -> None:
        """Mark an impression archived (Yuki's `archived` status):
        kept on disk, excluded from reuse until unarchived."""
        self.watermark(imp_id, "archived", "true")

    def is_archived(self, imp_id: str) -> bool:
        return self.exists(imp_id) and self.meta(imp_id).get("tags", {}).get(
            "archived"
        ) == "true"

    def lineage(self, imp_id: str) -> dict[str, Any]:
        """Transitive dependency walk over deposited metadata — the
        provenance surface of the store (parity: Yuki impressions
        carry their upstream dependencies; the status routes walk them
        to answer "what produced this artifact"). Returns
        ``{address: {task, deps, deposited}}`` for the closure rooted
        at ``imp_id``; a dependency that was never persisted (a lazy
        task folded into its consumer's plan, or an ``ext:``/
        ``name@version`` reference) appears with ``deposited=False``
        and no task metadata — the lineage is still complete, it just
        bottoms out at plan-level ancestry instead of a materialized
        deposit."""
        out: dict[str, Any] = {}
        frontier = [imp_id]
        while frontier:
            cur = frontier.pop()
            if cur in out:
                continue
            if self.exists(cur):
                m = self.meta(cur)
                deps = list(m.get("deps") or [])
                out[cur] = {"task": m.get("task"), "deps": deps, "deposited": True}
                frontier.extend(deps)
            else:
                out[cur] = {"task": None, "deps": [], "deposited": False}
        return out

    def _heal_swap(self, imp_id: str, full: bool = False) -> tuple[str, str, str]:
        """Recover a deposit from a compact() crash window so a broken
        deposit never masquerades as healthy ON ANY read path (not
        just a retried compact): a surviving .old with no live
        directory is renamed back (the crash hit mid-swap), and a .old
        beside a live directory is deleted (post-swap leftover). Only
        ``full=True`` (compact's own pre-rewrite heal) also discards a
        leftover temp rewrite — read paths must NEVER touch the temp
        directory, because with run_parallel/run_async a read can race
        an in-flight compact whose rewrite is mid-write there; deleting
        it would hand the subsequent swap a truncated deposit. All
        transitions run under the per-impression lock so a heal can
        never interleave with a live swap. Returns the (base, old,
        tmp) paths for compact()'s own use."""
        base_dir = os.path.join(self._dir(imp_id), "data.parquet")
        old_dir = base_dir + ".old"
        tmp_dir = base_dir + ".compact-tmp"
        with self._lock(imp_id):
            if os.path.exists(old_dir):
                if os.path.exists(base_dir):
                    shutil.rmtree(old_dir)  # crash after the swap completed
                else:
                    os.rename(old_dir, base_dir)  # crash mid-swap: restore
            if full and os.path.exists(tmp_dir):
                shutil.rmtree(tmp_dir)  # crash during the rewrite: discard
        return base_dir, old_dir, tmp_dir

    def data_files(self, imp_id: str) -> list[str]:
        """Every parquet part file of a deposit (recursive — includes
        hive-partitioned subdirectories), sorted. Heals any
        interrupted-compaction state first so a mid-swap crash never
        reads as an empty (yet "existing") deposit."""
        base, _, _ = self._heal_swap(imp_id)
        out: list[str] = []
        for dirpath, _, files in os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.join(dirpath, f))
        return sorted(out)

    def compact(
        self,
        spark: SparkSession,
        imp_id: str,
        target_file_bytes: int = 128 << 20,
    ) -> dict[str, Any]:
        """Small-file maintenance: rewrite a deposit's data into
        ~ceil(total_bytes / target) files. At 100 TB the store's
        operational risk is not bytes but FILE COUNT — a deposit
        written from many small tasks (or a high-cardinality
        partitionBy) fragments into thousands of tiny parquet files
        whose open/footer costs dominate every later scan; periodic
        compaction is the standard fix (the engine-level analogue of
        a lakehouse OPTIMIZE).

        Content-preserving and layout-only: same rows, same schema,
        same hive partitioning (re-applied from the deposit's
        recorded ``partition_by``), so the content address stays
        valid. The rewrite lands in a temp directory and swaps in via
        two renames (old → .old, tmp → live); a crash anywhere is
        recovered on the NEXT compact() call — a surviving .old with
        no live directory is renamed back (the crash hit mid-swap),
        a .old beside a live directory is deleted (post-swap
        leftover), and a stale temp rewrite is discarded — so a
        broken-looking deposit never masquerades as healthy.
        ``coalesce`` (not repartition) merges inputs without a
        shuffle. The rewrite reads under the deposit's RECORDED schema
        (meta.json), never schema inference: a hive-partitioned read
        would otherwise re-infer partition-column types from directory
        names (a string partition value ``'01'`` or ``'2024-01-01'``
        coming back int/date) and persist the changed types —
        violating the same-schema contract. No-op when the deposit
        already meets the target; returns before/after file counts
        either way. Concurrent compacts of one deposit serialize on a
        dedicated lock; the swap itself runs under the per-impression
        heal lock so a racing read's HEAL can never interleave with
        (or undo) the swap, and the deposit is never left broken.
        The lock cannot cover a reader's later Spark ACTION, though:
        a DataFrame that listed part files before the swap fails its
        action if the swap lands first (Spark's files-updated error —
        transient, the deposit itself is intact; re-read to recover).
        Run compact() in a maintenance window, or on a lakehouse
        table where the transaction log versions the swap."""
        if not self.exists(imp_id):
            raise FileNotFoundError(f"impression {imp_id} not deposited")
        with self._lock(imp_id + "#compact"):
            base_dir, old_dir, tmp_dir = self._heal_swap(imp_id, full=True)
            files = self.data_files(imp_id)
            total = sum(os.path.getsize(f) for f in files)
            n_target = max(1, -(-total // target_file_bytes))
            stats = {
                "impression": imp_id,
                "files_before": len(files),
                "bytes": total,
                "target_files": n_target,
            }
            if len(files) <= n_target:
                return {**stats, "files_after": len(files), "compacted": False}
            from pyspark.sql.types import StructType

            meta = self.meta(imp_id)
            part_cols = meta.get("partition_by") or []
            schema = StructType.fromJson(meta["schema"])
            df = spark.read.schema(schema).parquet(base_dir).coalesce(int(n_target))
            writer = df.write.mode("overwrite")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(tmp_dir)
            with self._lock(imp_id):
                os.rename(base_dir, old_dir)
                os.rename(tmp_dir, base_dir)
                shutil.rmtree(old_dir)
            meta["compacted_at"] = time.time()
            # the rewrite replaced every part file: refresh the
            # integrity inventory (content-preserving, so the row
            # count must survive — a mismatch here would be a real
            # compaction bug surfacing through verify())
            inv = self._inventory(self._dir(imp_id))
            inv.pop("unreadable")
            meta["integrity"] = inv
            _write_meta(self._dir(imp_id), meta)
            return {
                **stats,
                "files_after": len(self.data_files(imp_id)),
                "compacted": True,
            }

    def get_file(self, imp_id: str, filename: str) -> str:
        """Path of one file inside a deposit (parity: the reference's
        ``get-file`` route —
        /root/reference/Yuki/server/routes/upload.py:92 — resolves a
        named file inside an impression across machines; here the
        store IS the one machine). ``filename`` is relative to the
        impression directory (e.g. ``meta.json``, ``logs.json``, or a
        parquet part path from :meth:`data_files`); a bare parquet
        part basename is also resolved by search. Raises
        FileNotFoundError (the route's NOTFOUND) when absent.

        Traversal-safe, like the reference's ``send_from_directory``:
        a ``filename`` whose normalized resolution escapes the
        impression directory ('../…', or an absolute path outside it)
        is rejected as NOTFOUND rather than resolving outside the
        store. An absolute path that IS inside the impression
        directory still resolves — :meth:`data_files` returns
        absolute part paths and this method documents accepting
        them."""
        base = os.path.abspath(self._dir(imp_id))
        cand = os.path.normpath(
            filename if os.path.isabs(filename) else os.path.join(base, filename)
        )
        if os.path.commonpath([base, cand]) != base:
            raise FileNotFoundError(
                f"impression {imp_id}: {filename!r} escapes the impression "
                "directory (NOTFOUND)"
            )
        if os.path.isfile(cand):
            return cand
        for dirpath, _, files in os.walk(base):
            if filename in files:
                return os.path.join(dirpath, filename)
        raise FileNotFoundError(
            f"impression {imp_id}: no file {filename!r} (NOTFOUND)"
        )

    def export(
        self, imp_id: str, dest: str, filename: str | None = None
    ) -> list[str]:
        """Stage a deposit OUT of the store (parity: the export route —
        /root/reference/Yuki/server/routes/upload.py:66 — serves an
        impression's staged-out files to a caller; the Spark-native
        meaning is a filesystem copy to a destination directory the
        caller owns). Copies the whole deposit — data + meta.json +
        logs.json — or, with ``filename``, just that one file
        (resolved like :meth:`get_file`). Heals any interrupted-
        compaction state first so an export never ships a mid-swap
        view. Returns the relative paths written under ``dest``."""
        if not self.exists(imp_id):
            raise FileNotFoundError(f"impression {imp_id} not deposited")
        self._heal_swap(imp_id)
        os.makedirs(dest, exist_ok=True)
        if filename is not None:
            src = self.get_file(imp_id, filename)
            rel = os.path.relpath(src, self._dir(imp_id))
            target = os.path.join(dest, rel)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            shutil.copy2(src, target)
            return [rel]
        base = self._dir(imp_id)
        out: list[str] = []
        with self._lock(imp_id):
            for dirpath, _, files in os.walk(base):
                for fn in files:
                    src = os.path.join(dirpath, fn)
                    rel = os.path.relpath(src, base)
                    target = os.path.join(dest, rel)
                    os.makedirs(os.path.dirname(target), exist_ok=True)
                    shutil.copy2(src, target)
                    out.append(rel)
        return sorted(out)

    def bookkeep(self, pipe) -> str:
        """Persist the pipeline DEFINITION itself as a versioned
        manifest impression (parity: the bookkeeping route —
        /root/reference/Yuki/server/routes/status.py:396 — archives a
        project manifest + files as a snapshot). The manifest carries
        ``Pipeline.to_plan()`` plus each task's version/conf/runner and
        the impression address its last run recorded, and its ``deps``
        are exactly those recorded addresses — so
        :meth:`lineage` walked from the manifest reaches every deposit
        the pipeline produced (provenance of the whole project, not
        one artifact). Content-addressed on the DEFINITION — task
        names, versions, deps, confs, runners, and the recorded
        impression addresses — never on run state: statuses flip
        between runs of an unchanged pipeline (finished vs reused),
        and hashing them would book a duplicate snapshot per status
        combination instead of deduplicating. A changed definition
        books a NEW snapshot; an unchanged one is a no-op returning
        the same id. Auto-archived, so retention sweeps never collect
        the bookkeeping trail. Returns the manifest impression id;
        read it back with :meth:`manifest`."""
        tasks_doc = {
            n: {
                "version": t.version,
                "conf": t.conf,
                "runner": t.runner,
                "deps": list(t.deps),
                "impression": t.impression,
            }
            for n, t in sorted(pipe.tasks.items())
        }
        body = {"pipeline": pipe.name, "plan": pipe.to_plan(), "tasks": tasks_doc}
        payload = json.dumps(
            {"pipeline": pipe.name, "tasks": tasks_doc},
            sort_keys=True,
            default=str,
        )
        imp_id = "bk-" + hashlib.sha256(payload.encode()).hexdigest()[:29]
        dep_ids = sorted(
            t["impression"] for t in tasks_doc.values() if t["impression"]
        )
        if self.exists(imp_id):
            return imp_id  # unchanged definition → same snapshot
        os.makedirs(self._dir(imp_id), exist_ok=True)
        with open(os.path.join(self._dir(imp_id), "manifest.json"), "w") as f:
            json.dump(body, f, indent=2, default=str)
        doc = {
            "impression": imp_id,
            "created_at": time.time(),
            "schema": {"type": "struct", "fields": []},  # metadata-only
            "partition_by": [],
            "tags": {"archived": "true", "bookkeeping": "true"},
            "task": "__bookkeeping__",
            "pipeline": pipe.name,
            "deps": dep_ids,
        }
        _write_meta(self._dir(imp_id), doc)
        return imp_id

    def manifest(self, imp_id: str) -> dict[str, Any]:
        """Read back a bookkeeping snapshot's manifest body."""
        with open(os.path.join(self._dir(imp_id), "manifest.json")) as f:
            return json.load(f)

    def gc(
        self,
        keep: set[str] | None = None,
        max_age_s: float | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Retention sweep: delete impressions not in ``keep`` and/or
        older than ``max_age_s`` (Yuki deletes deposited impressions
        when their workflow is retired). Archived impressions are
        never collected. Returns the ids removed (or would-remove
        under ``dry_run``).

        A destructive sweep requires an explicit retention policy:
        calling with neither ``keep`` nor ``max_age_s`` raises unless
        ``dry_run=True`` (a bare ``gc()`` would otherwise delete every
        non-archived impression in the store)."""
        if keep is None and max_age_s is None and not dry_run:
            raise ValueError(
                "gc() with no retention policy would delete every "
                "non-archived impression; pass keep= and/or max_age_s= "
                "(or dry_run=True to preview)"
            )
        now = time.time()
        victims = []
        for imp_id in self.list_ids():
            if keep is not None and imp_id in keep:
                continue
            if self.is_archived(imp_id):
                continue
            if max_age_s is not None:
                if now - self.meta(imp_id).get("created_at", now) < max_age_s:
                    continue
            victims.append(imp_id)
        # logs-only directories (failure artifacts from write_logs with
        # no deposited data — exists() is False for them) obey the same
        # retention rules, by logs.json mtime; without this a
        # repeatedly-failing pipeline grows the store without bound
        deposited = set(self.list_ids())
        for d in sorted(os.listdir(self.root)):
            # an in-flight write's temp directory may hold the logs.json
            # handed over by a logs-only address: never a victim
            if d in deposited or d.startswith(_TMP_PREFIX):
                continue
            lp = os.path.join(self._dir(d), "logs.json")
            if not os.path.exists(lp):
                continue
            if keep is not None and d in keep:
                continue
            if max_age_s is not None and now - os.path.getmtime(lp) < max_age_s:
                continue
            victims.append(d)
        if not dry_run:
            for imp_id in victims:
                shutil.rmtree(self._dir(imp_id))
        return victims

    def purge(
        self,
        pipelines,
        extra_keep: set[str] | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Store-wide maintenance sweep: drop every impression (and
        logs-only failure artifact) not reachable from any of the
        given pipelines (parity: Yuki's purge route and bookkeeping
        sweep — /root/reference/Yuki/server/routes/execution.py:81
        ``purge``, routes/status.py:397 ``bookkeeping``).

        Reachability = each pipeline's structural addresses
        (:meth:`Pipeline.impression_ids`), every address a backend run
        actually recorded on a task (``Task.impression`` — this is how
        ``plan_hash=True`` deposits stay reachable), and any
        cross-pipeline ``external`` reference (version
        ``ext:<imp_id>``). Archived impressions always survive (same
        shield as :meth:`gc`). For a plan-hashed pipeline that has NOT
        run in this process, the recorded addresses are absent — pass
        the backend's persisted ``impressions`` result via
        ``extra_keep`` before purging, or the deposits count as
        unreachable."""
        keep: set[str] = set(extra_keep or ())
        for p in pipelines:
            keep.update(p.impression_ids().values())
            for t in p.tasks.values():
                if t.impression:
                    keep.add(t.impression)
                if t.version.startswith("ext:"):
                    keep.add(t.version[len("ext:"):])
        return self.gc(keep=keep, dry_run=dry_run)
