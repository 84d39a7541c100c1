"""yuki_spark benchmark: one process, one closed-loop client issuing one
operation at a time on Spark ``local[nproc]``.

    python3 perfbench/run.py --workload relational|corpus --seed N \\
        --seconds S --trace 0|1

Workloads (key lists in ``workloads.py``):

- ``relational``: TPC-H, events, window, cube, set-operation and SQL
  keys; no artifact store involved.
- ``corpus``: one pass is three phases: dedup deposits and a small
  ``LocalBackend`` DAG built into a fresh store (write side),
  deposit-reading keys and the same DAG against a store built before
  timing (read side), then ``run_corpus_ingest`` over a seed-split
  document stream, one parquet file per micro-batch.

An operation is one key's ``queries()[k](spark, sf)`` build plus its
``collect()``, one run of the benchmark DAG, or one ingest
micro-batch. A run makes one untimed warm-up pass, then the fixed
number of timed passes in ``workloads.PASSES``, sized so the timed
phase lasts about ``--seconds`` on a 4-core host; the count does not
follow the clock, so every run of a workload does the same work. The
seed permutes key order in every pass and sets the ingest
document-to-batch split.

Inputs are generated by ``datagen.py`` into ``.perfbench_cache/`` at the
checkout root. The read-side store lives there too: the warm-up pass
runs the read-side operations against it and builds whatever deposit
is missing (all of them on the first run in a checkout, and any whose
builder code changed since), so the timed passes only read it.
Set-up (``setup_s``) is the one-off launch (imports and JVM start) plus
the median of ``SETUPS`` session set-ups: a new SparkContext, its
first job and, for ``corpus``, the ingest input files.

Every time is wall time scaled by the share of runnable CPU time the
hypervisor did not steal over the same interval (``unstolen``, read
from ``/proc/stat``; 1.0 on an idle host), so a neighbour's load on a
shared host does not read as a regression. ``run_s`` is the fastest
timed pass; ``op_geomean_s`` is the geometric mean, over the
operation kinds of a pass, of each kind's fastest latency. Raw wall
time, CPU time and stolen time of every pass go to stderr.
Outputs are checked outside the timed region:
every key's canonical row digest against ``references.json``, and the
ingest result against the survivor set computed from the split.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. A traced run makes the same
passes with every layer wrapped; its ``trace.run_s`` minus the untraced
``run_s`` is the tracing overhead (``report.py --trace 1`` prints it).
"""
from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
CATALOG = os.path.join(CACHE, "catalog")
WARM = os.path.join(CACHE, "warm")
SCALE, DATA_SEED = 0.01, 42
OP_TIMEOUT_S = 120.0
SETUPS = 3
STORES = ("DEDUP", "SIM", "LM", "PIPE")

sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import workloads as wl  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(scratch: str) -> None:
    """Point Spark, its Python workers and every temp file at the
    checkout; must run before pyspark starts the JVM."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}\\ -XX:-UsePerfData"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def set_stores(root: str) -> None:
    for s in STORES:
        os.environ[f"YUKI_SPARK_{s}_STORE"] = os.path.join(root, s.lower())


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


def deposits(root: str) -> set[str]:
    """Deposited impressions (directories with a ``meta.json``) under a
    store root."""
    out = set()
    for s in STORES:
        d = os.path.join(root, s.lower())
        if os.path.isdir(d):
            out.update(
                f"{s}/{x}" for x in os.listdir(d)
                if os.path.exists(os.path.join(d, x, "meta.json"))
            )
    return out


def digest(cols: list[str], rows: list) -> str:
    from yuki_spark.compare import _canon

    canon = _canon(cols, [tuple(r) for r in rows])
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:20]


def guarded(fn, timeout_s: float):
    """Run ``fn()`` on a daemon thread with a wall-clock limit (the
    py4j-hang watchdog pattern of the repo's bench.py). Returns
    ``(result, error)``; a timeout is a ``TimeoutError``."""
    box: dict = {}

    def work() -> None:
        try:
            box["out"] = fn()
        except Exception as exc:  # noqa: BLE001 -- reported to the caller
            box["err"] = exc

    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(timeout_s)
    if th.is_alive():
        return None, TimeoutError(f"no result after {timeout_s:.0f} s")
    return box.get("out"), box.get("err")


def peak_rss_mb(java_pid: int | None) -> float:
    total = 0
    for pid in ("self", java_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def host_cpu() -> tuple[float, float]:
    """Host-wide CPU seconds so far: busy (user, nice, system, irq,
    softirq) and stolen by the hypervisor, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def unstolen(busy: float, steal: float) -> float:
    """Share of the runnable CPU time in an interval that the
    hypervisor did not steal. Steal is charged only while a vCPU has
    work, so a pass whose threads were runnable for ``busy + steal``
    CPU-seconds ran ``busy`` of them; scaling its wall time by this
    share removes the time it spent waiting for a stolen vCPU. It is
    1.0 on a host with no steal."""
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def since(start: tuple | None = None):
    """``since()`` marks a start; ``since(mark)`` is the wall time from
    that mark to now, scaled by the ``unstolen`` share of the host CPU
    time in between."""
    now = (time.perf_counter(), *host_cpu())
    if start is None:
        return now
    return (now[0] - start[0]) * unstolen(now[1] - start[1], now[2] - start[2])


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) of ``pid`` and its live descendants:
    for this process, the JVM and its Python workers."""
    hz, total, todo = os.sysconf("SC_CLK_TCK"), 0.0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / hz
            with open(f"/proc/{p}/task/{p}/children") as f:
                todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return total


class Bench:
    def __init__(self, args, scratch: str):
        self.args = args
        self.scratch = scratch
        self.rng = random.Random(args.seed)
        with open(os.path.join(HERE, "references.json")) as f:
            self.refs = json.load(f)["digests"]
        self.attempted = self.failed = self.wrong = 0
        self.invalid: list[str] = []
        self.ops: list[dict] = []  # one record per operation
        self.tracer = None
        self.cursor = None
        self.pass_layers: dict[str, float] = {}
        self.unstolen: dict[int, float] = {}  # pass -> unstolen share
        self.check_s = 0.0  # time spent checking outputs, kept off the clock
        self.n_docs = pq.ParquetFile(os.path.join(CATALOG, "documents.parquet")).metadata.num_rows

    def clock(self) -> float:
        """Timed-region clock: wall time minus output checking."""
        return time.perf_counter() - self.check_s

    @contextlib.contextmanager
    def checking(self):
        """Keep the body (output checks, bookkeeping) off :meth:`clock`."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    # --- setup ---------------------------------------------------------

    def setup(self) -> None:
        """The one-off launch (imports, JVM start), then ``SETUPS``
        session set-ups, each timed: ``setup_s`` is the launch plus
        their median, both scaled by ``unstolen``. Every set-up after
        the first stops the session and starts a new SparkContext in the
        same JVM."""
        t0 = since()
        from yuki_spark.session import get_spark

        from __spark_entry__ import queries

        self.qs = queries()
        self.spark = get_spark("perfbench")
        self.java_pid = self.spark.sparkContext._gateway.proc.pid
        self.launch_s = since(t0)
        reps = []
        for i in range(SETUPS):
            t1 = since()
            if i:
                self.spark.stop()
                self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(32).collect()
            if self.args.workload == "corpus":
                self.prepare_ingest(os.path.join(self.scratch, f"ingest_in{i}"))
            reps.append(since(t1))
        self.setup_s = self.launch_s + statistics.median(reps)

    def prepare_ingest(self, path: str) -> None:
        """Split the ingest documents by the seed, compute the surviving
        set and write one parquet file per micro-batch under ``path``."""
        docs, cluster = datagen.ingest_corpus(wl.INGEST_DOCS)
        self.batches = datagen.split_batches(wl.INGEST_DOCS, wl.INGEST_BATCHES, self.args.seed)
        self.survivors = datagen.ingest_survivors(self.batches, cluster)
        self.ingest_in = path
        datagen.write_ingest_batches(path, docs, self.batches)

    def warm_up(self) -> None:
        """One untimed pass of the workload: the JVM compiles exactly the
        code the timed passes run, so they measure the engine rather
        than JIT warm-up, and the read-side store gets every deposit
        the timed passes read. Its outputs are checked and its
        operations counted like any other; its latencies are not
        reported, and it is not part of ``setup_s``."""
        t0 = time.perf_counter()
        self.run_pass(-1, traced=False)
        self.ops.clear()
        self.warmup_s = time.perf_counter() - t0

    # --- operations ----------------------------------------------------

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def key_op(self, pass_no: int, phase: str, key: str) -> None:
        """One operation: build the key's DataFrame and collect it, under
        the watchdog; check the digest afterwards."""
        tr, cur = self.tracer, self.cursor
        if tr:
            tr.op = f"{pass_no}:{phase}:{key}"
            cur.advance()
        marks: dict = {}

        def work():
            with self._span("op"):
                marks["t0"] = time.perf_counter()
                with self._span("queries.build"):
                    df = self.qs[key](self.spark, CATALOG)
                marks["t1"] = time.perf_counter()
                if cur:
                    marks["build"] = cur.advance()
                with self._span("exec.action"):
                    rows = df.collect()
                marks["t2"] = time.perf_counter()
                return df.columns, rows

        self.attempted += 1
        out, err = guarded(work, OP_TIMEOUT_S)
        rec = {"pass": pass_no, "phase": phase, "key": key}
        if err is not None:
            self.failed += 1
            print(f"# op failed: {key}: {type(err).__name__}: {err}", file=sys.stderr)
            if isinstance(err, TimeoutError):
                guarded(self.spark.sparkContext.cancelAllJobs, 10.0)
            self.ops.append(rec | {"ok": False})
            return
        cols, rows = out
        rec |= {
            "ok": True,
            "lat": marks["t2"] - marks["t0"],
            "build_s": marks["t1"] - marks["t0"],
            "action_s": marks["t2"] - marks["t1"],
        }
        if cur:
            self._add_jobs(marks["build"], "build")
            self._add_jobs(cur.advance(), "action")
        self.ops.append(rec)
        print(f"# op {rec['pass']} {phase} {key} {rec['build_s']:.3f}+{rec['action_s']:.3f}",
              file=sys.stderr)
        with self.checking():
            if digest(cols, rows) != self.refs.get(key):
                self.wrong += 1
                print(f"# wrong result: {key}", file=sys.stderr)

    def _add_jobs(self, m: dict, stage: str) -> None:
        layer = self.pass_layers
        if stage == "build":
            layer["queries.build_jobs"] = layer.get("queries.build_jobs", 0) + m["jobs"]
        else:
            layer["exec.jobs"] = layer.get("exec.jobs", 0) + m["jobs"]
        for k, v in (
            ("exec.stages", m["stages"]),
            ("exec.tasks", m["tasks"]),
            ("exec.run_ms", m["run_ms"]),
            ("exec.shuffle_read_mb", m["shuffle_read"] / 1e6),
            ("exec.shuffle_write_mb", m["shuffle_write"] / 1e6),
            ("exec.spill_mb", m["spill"] / 1e6),
        ):
            layer[k] = layer.get(k, 0) + v

    def _pipeline_run(self, root: str):
        from yuki_spark.pipeline.backends import LocalBackend
        from yuki_spark.pipeline.impressions import ImpressionStore

        store = ImpressionStore(os.path.join(root, "pipe"))
        out = LocalBackend(store, persist=wl.PIPELINE_PERSIST).run(
            self.spark, wl.pipeline(CATALOG)
        )
        return out["results"]["report"].collect()

    def pipeline_op(self, pass_no: int, phase: str, root: str) -> None:
        """One operation: run the benchmark DAG through ``LocalBackend``
        against the store at ``root``; the report must show every
        document in each of the N_BANDS bands."""
        from yuki_spark.operators.dedup import N_BANDS

        if self.tracer:
            self.tracer.op = f"{pass_no}:{phase}:pipeline"
            self.cursor.advance()
        self.attempted += 1
        t0 = time.perf_counter()
        rows, err = guarded(lambda: self._pipeline_run(root), OP_TIMEOUT_S)
        lat = time.perf_counter() - t0
        rec = {"pass": pass_no, "phase": phase, "key": "pipeline",
               "ok": err is None, "lat": lat}
        self.ops.append(rec)
        if err is not None:
            self.failed += 1
            print(f"# op failed: pipeline: {type(err).__name__}: {err}", file=sys.stderr)
            return
        if self.cursor:
            self._add_jobs(self.cursor.advance(), "action")
        print(f"# op {pass_no} {phase} pipeline {lat:.3f}", file=sys.stderr)
        if sorted(tuple(r) for r in rows) != [(b, self.n_docs) for b in range(N_BANDS)]:
            self.wrong += 1
            print("# wrong result: pipeline report", file=sys.stderr)

    def ingest_phase(self, pass_no: int, work: str) -> float:
        """Stream the seed-split batches through ``run_corpus_ingest``;
        one operation per micro-batch. Returns the store bytes (MB)."""
        from pyspark.errors import StreamingQueryException

        from yuki_spark.operators.dedup import N_BANDS
        from yuki_spark.streaming import stream as st

        corpus, index = os.path.join(work, "corpus"), os.path.join(work, "index")
        if self.cursor:
            self.tracer.op = f"{pass_no}:ingest"
            self.cursor.advance()
        q = st.run_corpus_ingest(
            st.read_document_stream(self.spark, self.ingest_in, max_files_per_trigger=1),
            corpus, index, os.path.join(work, "ckpt"),
        )
        try:
            done = q.awaitTermination(OP_TIMEOUT_S * len(self.batches))
        except StreamingQueryException as exc:
            print(f"# ingest failed: {exc}", file=sys.stderr)
            done = True
        if not done:
            print("# ingest timed out", file=sys.stderr)
            q.stop()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.attempted += len(self.batches)
        self.failed += len(self.batches) - len(progress)
        for p in progress:
            dur = p["durationMs"]
            self.ops.append({
                "pass": pass_no, "phase": "ingest", "key": f"batch{p['batchId']}",
                "ok": True,
                "lat": dur["triggerExecution"] / 1000,
            })
            print(f"# op {pass_no} ingest batch{p['batchId']} {dur['triggerExecution'] / 1000:.3f}",
                  file=sys.stderr)
            if self.tracer:
                for k, v in (
                    ("stream.batches", 1),
                    ("stream.add_batch_s", dur.get("addBatch", 0) / 1000),
                    ("stream.trigger_s", dur["triggerExecution"] / 1000),
                    ("stream.overhead_s",
                     (dur["triggerExecution"] - dur.get("addBatch", 0)) / 1000),
                    ("stream.input_rows", p["numInputRows"]),
                ):
                    self.pass_layers[k] = self.pass_layers.get(k, 0) + v
        if self.cursor:
            self._add_jobs(self.cursor.advance(), "action")
        with self.checking():
            ids = [r[0] for r in self.spark.read.parquet(corpus).select("doc_id").collect()]
            n_index = self.spark.read.parquet(index).count()
            for ok, what in (
                (len(ids) == len(set(ids)), "corpus doc_ids not distinct"),
                (n_index == N_BANDS * len(ids), "index rows != N_BANDS x corpus rows"),
                (set(ids) == self.survivors, "surviving doc set differs from reference"),
            ):
                if not ok:
                    self.wrong += 1
                    print(f"# wrong result: ingest: {what}", file=sys.stderr)
            if self.cursor:
                self.cursor.advance()  # the check's jobs are not the workload's
            return du_mb(corpus) + du_mb(index)

    # --- passes --------------------------------------------------------

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        from tracing import JobCursor, Tracer

        self.pass_layers = {}
        if traced:
            self.tracer = Tracer()
            self.tracer.install()
            self.cursor = self.cursor or JobCursor(self.spark)
        phases: dict[str, float] = {}
        store_mb = 0.0
        gc.collect()  # start every pass with both heaps collected
        self.spark.sparkContext._jvm.System.gc()
        host0, cpu0 = host_cpu(), tree_cpu_s(os.getpid())
        t0 = self.clock()
        try:
            if self.args.workload == "relational":
                for key in self.rng.sample(wl.RELATIONAL, len(wl.RELATIONAL)):
                    self.key_op(pass_no, "relational", key)
            else:
                work = os.path.join(self.scratch, f"pass{pass_no}")
                cold = os.path.join(work, "store")
                set_stores(cold)
                a = self.clock()
                for key in self.rng.sample(wl.CORPUS_COLD, len(wl.CORPUS_COLD)):
                    self.key_op(pass_no, "cold", key)
                self.pipeline_op(pass_no, "cold", cold)
                b = self.clock()
                with self.checking():
                    store_mb += du_mb(cold)
                    set_stores(WARM)
                    before = deposits(WARM)
                    counts = dict(self.tracer.counts) if self.tracer else {}
                for key in self.rng.sample(wl.CORPUS_WARM, len(wl.CORPUS_WARM)):
                    self.key_op(pass_no, "warm", key)
                self.pipeline_op(pass_no, "warm", WARM)
                c = self.clock()
                with self.checking():
                    if pass_no >= 0 and deposits(WARM) != before:
                        self.invalid.append(f"pass {pass_no}: read-side store missed")
                    if self.tracer:
                        now = self.tracer.counts
                        for k in ("hits", "calls"):
                            key = f"artifact_store.{k}"
                            phases[f"warm_{k}"] = now.get(key, 0) - counts.get(key, 0)
                store_mb += self.ingest_phase(pass_no, work)
                d = self.clock()
                phases |= {"cold_s": b - a, "warm_s": c - b, "ingest_s": d - c}
                with self.checking():
                    shutil.rmtree(work, ignore_errors=True)
        finally:
            if self.tracer:
                self.tracer.unpatch()
        wall = self.clock() - t0
        host1, cpu = host_cpu(), tree_cpu_s(os.getpid()) - cpu0
        busy, steal = (host1[i] - host0[i] for i in range(2))
        # The share of runnable CPU time the hypervisor did not steal:
        # wall time and latencies are scaled by it (see ``unstolen``).
        self.unstolen[pass_no] = unstolen(busy, steal)
        print(f"# pass {pass_no} wall={wall:.3f} cpu={cpu:.3f} host_busy={busy:.3f}"
              f" host_steal={steal:.3f} unstolen={self.unstolen[pass_no]:.4f}", file=sys.stderr)
        layers = {}
        if traced:
            layers = self._layers(wall, phases, store_mb)
            layers |= {"pass.wall_s": wall, "exec.cpu_s": cpu, "host.steal_s": steal}
            spans = os.path.join(CACHE, "spans")
            os.makedirs(spans, exist_ok=True)
            name = f"{self.args.workload}-seed{self.args.seed}-pass{pass_no}.tsv"
            self.tracer.dump(os.path.join(spans, name))
            self.tracer = None
        return {"wall": wall * self.unstolen[pass_no], "layers": layers}

    def _layers(self, wall: float, phases: dict, store_mb: float) -> dict:
        tr, lay = self.tracer, self.pass_layers
        c = tr.counts
        calls = c.get("artifact_store.calls", 0)
        out = {
            "catalog.load_calls": c.get("catalog.load_calls", 0),
            "catalog.load_s": tr.total("catalog.load"),
            "queries.build_s": tr.total("queries.build"),
            "queries.build_jobs": lay.get("queries.build_jobs", 0),
            "exec.action_s": tr.total("exec.action"),
            "exec.jobs": lay.get("exec.jobs", 0),
            "exec.stages": lay.get("exec.stages", 0),
            "exec.tasks": lay.get("exec.tasks", 0),
            "exec.shuffle_read_mb": lay.get("exec.shuffle_read_mb", 0),
            "exec.shuffle_write_mb": lay.get("exec.shuffle_write_mb", 0),
            "exec.spill_mb": lay.get("exec.spill_mb", 0),
            "exec.busy_frac": lay.get("exec.run_ms", 0) / 1000
            / (wall * self.spark.sparkContext.defaultParallelism),
            "artifact_store.calls": calls,
            "artifact_store.hit_ratio": c.get("artifact_store.hits", 0) / calls if calls else 0.0,
            "artifact_store.warm_hit_ratio": (
                phases["warm_hits"] / phases["warm_calls"] if phases.get("warm_calls") else 0.0
            ),
            "artifact_store.build_s": c.get("artifact_store.build_s", 0),
            "impressions.write_s": tr.total("impressions.write"),
            "impressions.write_mb": c.get("impressions.write_mb", 0),
            "impressions.parts": c.get("impressions.parts", 0),
            "impressions.read_calls": c.get("impressions.read_calls", 0),
            "impressions.read_s": tr.total("impressions.read"),
            "pipeline.run_s": tr.total("pipeline.run"),
            "pipeline.tasks_run": c.get("pipeline.tasks_run", 0),
            "pipeline.tasks_reused": c.get("pipeline.tasks_reused", 0),
            "store_mb": store_mb,
            "phase.cold_s": phases.get("cold_s", 0.0),
            "phase.warm_s": phases.get("warm_s", 0.0),
            "phase.ingest_s": phases.get("ingest_s", 0.0),
        }
        for k in ("stream.batches", "stream.add_batch_s", "stream.trigger_s",
                  "stream.overhead_s", "stream.input_rows"):
            out[k] = lay.get(k, 0)
        if phases.get("warm_calls") and phases["warm_hits"] < phases["warm_calls"]:
            self.invalid.append("artifact_store.warm_hit_ratio < 1.0")
        return out

    def measure(self) -> list[dict]:
        """The workload's timed passes; a traced run makes the same
        passes as an untraced one, all traced."""
        n = wl.PASSES[self.args.workload]
        return [self.run_pass(i, bool(self.args.trace)) for i in range(n)]

    # --- report --------------------------------------------------------

    def report(self, passes: list[dict]) -> dict:
        walls = [p["wall"] for p in passes]
        if self.args.trace:
            metrics = {
                n: statistics.median(p["layers"][n] for p in passes)
                for n in passes[0]["layers"]
            }
            metrics |= {
                "session.start_s": self.launch_s,
                "session.warmup_s": self.warmup_s,
                "peak_rss_mb": peak_rss_mb(self.java_pid),
                "trace.run_s": min(walls),
            }
            units = {n: _unit(n) for n in metrics}
        else:
            best: dict[tuple, float] = {}
            for o in self.ops:
                if o["ok"]:
                    kind = (o["phase"], o["key"])
                    lat = o["lat"] * self.unstolen[o["pass"]]
                    best[kind] = min(lat, best.get(kind, lat))
            metrics = {
                "setup_s": self.setup_s,
                "run_s": min(walls),
                "op_geomean_s": math.exp(statistics.mean(math.log(x) for x in best.values())),
            }
            units = {n: "s" for n in metrics}
        error_rate = self.failed / self.attempted if self.attempted else 1.0
        print(f"# workload={self.args.workload} seed={self.args.seed} "
              f"passes={len(passes)} ops={len(self.ops)}")
        for n, v in metrics.items():
            print(f"# {n} = {v:.4f} {units[n]}")
        print(f"# wrong_results = {self.wrong} count")
        print(f"# error_rate = {error_rate:.4f} ratio")
        for why in self.invalid:
            print(f"# invalid run: {why}")
        return {
            "correct": self.wrong == 0 and not self.invalid,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
        }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    scratch = os.path.join(CACHE, f"run{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    configure_env(scratch)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(CATALOG):
        tmp = f"{CATALOG}.tmp{os.getpid()}"
        datagen.write_catalog(tmp, SCALE, DATA_SEED)
        try:
            os.rename(tmp, CATALOG)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    bench = Bench(args, scratch)
    try:
        bench.setup()
        bench.warm_up()
        passes = bench.measure()
        result = bench.report(passes)
    finally:
        t0 = time.perf_counter()
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)
        shutil.rmtree(scratch, ignore_errors=True)
        print(f"# checks_s={bench.check_s:.3f} stop_s={time.perf_counter() - t0:.3f}",
              file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
