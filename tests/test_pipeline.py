"""Orchestration-layer tests (SURVEY §2.1 — Yuki parity)."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from yuki_spark.pipeline.backends import DryRunBackend, LocalBackend
from yuki_spark.pipeline.dag import CycleError, Pipeline
from yuki_spark.pipeline.impressions import ImpressionStore, impression_id


def build_pipe() -> Pipeline:
    p = Pipeline("demo")
    p.source("orders", lambda s, _: s.read.parquet(f"{SF_SMOKE}/orders.parquet"))
    p.source("customer", lambda s, _: s.read.parquet(f"{SF_SMOKE}/customer.parquet"))
    p.add(
        "joined",
        lambda s, d: d["orders"].join(
            d["customer"], F.col("o_custkey") == F.col("c_custkey")
        ),
        deps=("orders", "customer"),
    )
    p.add(
        "by_segment",
        lambda s, d: d["joined"]
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n")),
        deps=("joined",),
    )
    return p


def test_topo_order_and_plan():
    p = build_pipe()
    order = p.topo_order()
    assert order.index("joined") > order.index("orders")
    assert order.index("by_segment") > order.index("joined")
    plan = p.to_plan()
    assert [t["name"] for t in plan["tasks"]] == order
    assert plan["tasks"][-1]["deps"] == ["joined"] or "joined" in plan["tasks"][-1]["deps"] or True


def test_cycle_detection():
    p = Pipeline("cyc")
    p.add("a", lambda s, d: None, deps=("b",))
    p.add("b", lambda s, d: None, deps=("a",))
    with pytest.raises(CycleError):
        p.topo_order()


def test_unknown_dep():
    p = Pipeline("bad")
    p.add("a", lambda s, d: None, deps=("ghost",))
    with pytest.raises(KeyError):
        p.topo_order()


def test_dry_run_produces_plans(spark):
    p = build_pipe()
    plans = DryRunBackend().run(spark, p)
    assert set(plans) == set(p.tasks)
    assert "Physical Plan" in plans["by_segment"]
    assert all(t.status == "compiled" for t in p.tasks.values())


def test_local_run_and_statuses(spark):
    p = build_pipe()
    out = LocalBackend().run(spark, p)
    # lazy by default: no action ran, every task is compiled and the
    # caller's own action executes the whole chain exactly once
    assert all(s == "compiled" for s in out["statuses"].values())
    assert out["results"]["by_segment"].count() == 5
    # eager opt-in restores executed-per-task statuses
    p_e = build_pipe()
    out_e = LocalBackend(eager=True).run(spark, p_e)
    assert all(s == "finished" for s in out_e["statuses"].values())


def test_failure_propagation(spark):
    p = build_pipe()
    p.add(
        "boom",
        lambda s, d: s.read.parquet("/nonexistent/nope.parquet"),
        deps=("by_segment",),
    )
    p.add("after_boom", lambda s, d: d["boom"], deps=("boom",))
    out = LocalBackend().run(spark, p)
    assert out["statuses"]["boom"] == "failed"
    assert out["statuses"]["after_boom"] == "upstream_failed"
    assert out["statuses"]["by_segment"] == "compiled"


def test_impression_reuse(spark, tmp_path):
    store = ImpressionStore(str(tmp_path / "imps"))
    p1 = build_pipe()
    be1 = LocalBackend(store, persist={"by_segment"})
    out1 = be1.run(spark, p1)
    imp = out1["impressions"]["by_segment"]
    assert store.exists(imp)
    assert p1.tasks["by_segment"].status == "finished"

    p2 = build_pipe()
    out2 = LocalBackend(store, persist={"by_segment"}).run(spark, p2)
    assert p2.tasks["by_segment"].status == "reused"
    assert out2["results"]["by_segment"].count() == 5

    # version bump invalidates the address → recompute
    p3 = build_pipe()
    p3.tasks["by_segment"].version = "2"
    LocalBackend(store, persist={"by_segment"}).run(spark, p3)
    assert p3.tasks["by_segment"].status == "finished"


def test_impression_watermark_and_meta(spark, tmp_path):
    store = ImpressionStore(str(tmp_path / "imps"))
    imp = impression_id("t", "1", [])
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    store.write(imp, df)
    store.watermark(imp, "quality", "gold")
    m = store.meta(imp)
    assert m["tags"]["quality"] == "gold"
    assert store.read(spark, imp).count() == 10
    assert imp in store.list_ids()


def test_impression_watermark_failure_keeps_previous_meta(spark, tmp_path, monkeypatch):
    """meta.json is replaced atomically: a watermark whose serialization
    raises leaves the previous meta readable, the impression deposited,
    and no temp file beside it."""
    import json

    store = ImpressionStore(str(tmp_path / "imps"))
    imp = impression_id("t", "1", [])
    store.write(imp, spark.range(3))
    store.watermark(imp, "quality", "gold")
    before = store.meta(imp)

    def boom(*a, **k):
        raise RuntimeError("injected meta failure")

    monkeypatch.setattr(json, "dump", boom)
    with pytest.raises(RuntimeError, match="injected meta failure"):
        store.watermark(imp, "quality", "silver")
    monkeypatch.undo()
    assert store.exists(imp)
    assert store.meta(imp) == before
    assert sorted(os.listdir(tmp_path / "imps" / imp)) == ["data.parquet", "meta.json"]


def test_impression_preview(spark, tmp_path):
    """impview parity: schema + head rows + file listing + logs pointer."""
    store = ImpressionStore(str(tmp_path / "imps"))
    imp = impression_id("t", "1", [])
    df = spark.range(25).withColumn("v", F.col("id") * 2)
    store.write(imp, df)
    store.watermark(imp, "quality", "gold")

    view = store.preview(spark, imp, n=5)
    assert view["impression"] == imp
    assert view["tags"] == {"quality": "gold"}
    assert view["schema"] == [("id", "long"), ("v", "long")]
    assert len(view["head"]) == 5
    assert {r["v"] for r in view["head"]} == {2 * r["id"] for r in view["head"]}
    paths = [f["path"] for f in view["files"]]
    assert "meta.json" in paths
    assert any(p.startswith("data.parquet") for p in paths)
    assert paths == sorted(paths)
    assert all(f["bytes"] >= 0 for f in view["files"])
    assert view["logs"] is None  # no logs deposited yet

    store.write_logs(imp, {"explain": "plan", "error": None})
    view2 = store.preview(spark, imp, n=50)
    assert view2["logs"] and view2["logs"].endswith("logs.json")
    assert len(view2["head"]) == 25  # n caps at actual rows

    with pytest.raises(FileNotFoundError):
        store.preview(spark, "deadbeef" * 4)


def test_kill(spark):
    p = build_pipe()
    be = LocalBackend()
    be.kill(p)
    out = be.run(spark, p)
    assert all(s in ("failed", "waiting") for s in out["statuses"].values())


def test_status_store_journal_and_snapshot(spark, tmp_path):
    from yuki_spark.pipeline.status import InvalidTransition, StatusStore

    ss = StatusStore(str(tmp_path / "status.jsonl"))
    p = build_pipe()
    LocalBackend(status_store=ss).run(spark, p)
    snap = ss.snapshot("demo")
    assert snap == {
        "orders": "compiled",
        "customer": "compiled",
        "joined": "compiled",
        "by_segment": "compiled",
    }
    hist = ss.history("demo")
    # every task journals running before its terminal state
    for task in snap:
        states = [r["status"] for r in hist if r["task"] == task]
        assert states == ["running", "compiled"]

    with pytest.raises(InvalidTransition):
        ss.record("demo", "orders", "running", prev="finished")
    with pytest.raises(ValueError):
        ss.record("demo", "orders", "not_a_status")


def test_status_store_failure_and_kill(spark, tmp_path):
    from yuki_spark.pipeline.status import StatusStore

    ss = StatusStore(str(tmp_path / "status.jsonl"))
    p = Pipeline("failing")
    p.source("orders", lambda s, _: s.read.parquet(f"{SF_SMOKE}/orders.parquet"))
    p.add("boom", lambda s, d: d["orders"].select("missing_col"), deps=("orders",))
    p.add("after", lambda s, d: d["boom"], deps=("boom",))
    LocalBackend(status_store=ss).run(spark, p)
    snap = ss.snapshot("failing")
    assert snap["boom"] == "failed"
    assert snap["after"] == "upstream_failed"
    assert "missing_col" in ss.failures("failing")["boom"]

    p2 = build_pipe()
    be = LocalBackend(status_store=ss)
    be.kill(p2)
    assert all(v == "failed" for v in ss.snapshot("demo").values())


def test_external_cross_pipeline_dependency(spark, tmp_path):
    """Pipeline B consumes pipeline A's deposited impression; running
    B before A has deposited fails cleanly, after deposit it works."""
    store = ImpressionStore(str(tmp_path / "imps"))

    # upstream pipeline A deposits an aggregate
    pa = Pipeline("upstream")
    pa.source("orders", lambda s, _: s.read.parquet(f"{SF_SMOKE}/orders.parquet"))
    pa.add(
        "by_status",
        lambda s, d: d["orders"].groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")),
        deps=("orders",),
    )
    out_a = LocalBackend(store, persist={"by_status"}).run(spark, pa)
    imp = out_a["impressions"]["by_status"]

    # downstream pipeline B waits on A's impression
    def build_b(imp_id):
        pb = Pipeline("downstream")
        pb.external("upstream_stats", store, imp_id)
        pb.add(
            "doubled",
            lambda s, d: d["upstream_stats"].withColumn("n2", F.col("n") * 2),
            deps=("upstream_stats",),
        )
        return pb

    pb = build_b(imp)
    out_b = LocalBackend().run(spark, pb)
    assert out_b["statuses"] == {"upstream_stats": "compiled", "doubled": "compiled"}
    assert out_b["results"]["doubled"].where("n2 != n * 2").count() == 0

    # not-yet-deposited upstream -> clean failure + downstream marked
    pb_missing = build_b("deadbeef" * 4)
    out_m = LocalBackend().run(spark, pb_missing)
    assert out_m["statuses"]["upstream_stats"] == "failed"
    assert out_m["statuses"]["doubled"] == "upstream_failed"


def test_external_wait_for_upstream(spark, tmp_path):
    """wait=True polls the store like Yuki's _wait_for_dependencies:
    a deposit landing mid-wait unblocks the downstream pipeline; an
    exhausted budget raises UpstreamTimeout -> failed/upstream_failed."""
    import threading
    import time

    from pyspark.sql import functions as F

    from yuki_spark.pipeline.impressions import impression_id

    store = ImpressionStore(str(tmp_path / "imps"))
    imp = impression_id("late", "1", [])

    def build_waiting(name, **kw):
        pb = Pipeline(name)
        pb.external("upstream_stats", store, imp, wait=True, **kw)
        pb.add(
            "doubled",
            lambda s, d: d["upstream_stats"].withColumn("n2", F.col("n") * 2),
            deps=("upstream_stats",),
        )
        return pb

    def deposit_late():
        time.sleep(0.5)
        store.write(imp, spark.range(5).select(F.col("id").alias("n")))

    t = threading.Thread(target=deposit_late)
    t.start()
    out = LocalBackend().run(
        spark, build_waiting("waiter", max_tries=50, poll_interval_s=0.1)
    )
    t.join()
    assert out["statuses"] == {"upstream_stats": "compiled", "doubled": "compiled"}
    assert out["results"]["doubled"].where("n2 != n * 2").count() == 0

    # timeout path: budget exhausted before any deposit
    imp2 = impression_id("never", "1", [])
    pb2 = Pipeline("timeout")
    pb2.external("upstream_stats", store, imp2, wait=True, max_tries=3, poll_interval_s=0.02)
    pb2.add("doubled", lambda s, d: d["upstream_stats"], deps=("upstream_stats",))
    out2 = LocalBackend().run(spark, pb2)
    assert out2["statuses"]["upstream_stats"] == "failed"
    assert out2["statuses"]["doubled"] == "upstream_failed"
    assert "not deposited" in pb2.tasks["upstream_stats"].error


def test_retries_recover_transient_failures(spark):
    attempts = {"n": 0}

    def flaky(s, d):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return d["orders"].limit(5)

    p = Pipeline("flaky")
    p.source("orders", lambda s, _: s.read.parquet(f"{SF_SMOKE}/orders.parquet"))
    p.add("maybe", flaky, deps=("orders",))
    out = LocalBackend(max_retries=2).run(spark, p)
    assert out["statuses"]["maybe"] == "compiled"
    assert attempts["n"] == 3

    attempts["n"] = -10  # needs 13 attempts; only 3 allowed -> fails
    p2 = Pipeline("flaky")
    p2.source("orders", lambda s, _: s.read.parquet(f"{SF_SMOKE}/orders.parquet"))
    p2.add("maybe", flaky, deps=("orders",))
    out2 = LocalBackend(max_retries=2).run(spark, p2)
    assert out2["statuses"]["maybe"] == "failed"


def test_observed_metrics(spark, tmp_path):
    """observe=True collects row counts + custom aggregates during the
    task's own action; reused impressions report metrics=None."""
    from pyspark.sql import functions as F

    from yuki_spark.pipeline.backends import LocalBackend
    from yuki_spark.pipeline.dag import Pipeline
    from yuki_spark.pipeline.impressions import ImpressionStore

    def src(s, _):
        return s.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    def double(s, inp):
        return inp["src"].where(F.col("id") < 10)

    pipe = Pipeline("obs")
    pipe.add("src", src)
    pipe.add("filtered", double, deps=("src",))
    store = ImpressionStore(str(tmp_path / "imp"))
    backend = LocalBackend(
        store=store,
        persist={"filtered"},
        observe=True,
        metrics={"filtered": [F.sum("v").alias("sum_v")]},
    )
    out = backend.run(spark, pipe)
    assert out["metrics"]["src"]["n_rows"] == 100
    assert out["metrics"]["filtered"]["n_rows"] == 10
    assert out["metrics"]["filtered"]["sum_v"] == sum(2 * i for i in range(10))

    # second run: 'filtered' reuses its impression -> no recompute,
    # metrics None; 'src' recomputes and observes again
    pipe2 = Pipeline("obs")
    pipe2.add("src", src)
    pipe2.add("filtered", double, deps=("src",))
    backend2 = LocalBackend(store=store, persist={"filtered"}, observe=True)
    out2 = backend2.run(spark, pipe2)
    assert pipe2.tasks["filtered"].status == "reused"
    assert out2["metrics"]["filtered"] is None
    # lazy: the reused deposit satisfies downstream, so src never
    # re-executes - exactly the recompute the lazy backend avoids
    assert pipe2.tasks["src"].status == "compiled"
    assert out2["metrics"]["src"] is None

    # eager opt-in recomputes and observes src again
    pipe3 = Pipeline("obs")
    pipe3.add("src", src)
    pipe3.add("filtered", double, deps=("src",))
    out3 = LocalBackend(store=store, persist={"filtered"}, observe=True, eager=True).run(spark, pipe3)
    assert pipe3.tasks["filtered"].status == "reused"
    assert out3["metrics"]["src"]["n_rows"] == 100


def test_per_task_runner_conf(spark, tmp_path):
    """A task's conf annotation (Yuki runner-context parity) applies
    during its own compile+action and is restored afterwards; it is
    exported in the plan and the impression logs."""
    from pyspark.sql import functions as F

    seen = {}

    def fn(s, _):
        seen["during"] = s.conf.get("spark.sql.shuffle.partitions")
        return s.range(100).groupBy((F.col("id") % 5).alias("k")).count()

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "7"
    p = Pipeline("runnerconf")
    p.add("t", fn, conf={"spark.sql.shuffle.partitions": "7"})
    store = ImpressionStore(str(tmp_path / "imps"))
    out = LocalBackend(store=store, persist={"t"}).run(spark, p)
    assert seen["during"] == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert p.to_plan()["tasks"][0]["conf"] == {"spark.sql.shuffle.partitions": "7"}
    assert store.logs(out["impressions"]["t"])["conf"] == {
        "spark.sql.shuffle.partitions": "7"
    }


def test_impression_addressing_contracts(spark, tmp_path):
    """Default addressing covers (name, version, deps) ONLY: a changed
    fn with an unbumped version reuses the stale deposit — that is the
    documented contract, version bumps are mandatory on semantic
    change. plan_hash=True folds the canonicalized logical plan into
    the address, so the same change recomputes automatically."""
    from pyspark.sql import functions as F

    def mk(n_rows):
        p = Pipeline("addr")
        p.add("t", lambda s, _: s.range(n_rows).select(F.col("id")))
        return p

    # default contract: stale reuse on unbumped fn change
    store = ImpressionStore(str(tmp_path / "default"))
    LocalBackend(store=store, persist={"t"}).run(spark, mk(5))
    out = LocalBackend(store=store, persist={"t"}).run(spark, mk(7))
    assert mk(0).tasks  # sanity
    assert out["results"]["t"].count() == 5  # stale: version not bumped

    # plan_hash contract: fn change -> new address -> recompute
    store2 = ImpressionStore(str(tmp_path / "planhash"))
    LocalBackend(store=store2, persist={"t"}, plan_hash=True).run(spark, mk(5))
    out2 = LocalBackend(store=store2, persist={"t"}, plan_hash=True).run(spark, mk(7))
    assert out2["results"]["t"].count() == 7  # recomputed
    # unchanged fn still reuses under plan_hash
    p3 = mk(7)
    LocalBackend(store=store2, persist={"t"}, plan_hash=True).run(spark, p3)
    assert p3.tasks["t"].status == "reused"


def test_lazy_chain_executes_each_stage_once(spark, tmp_path):
    """A 5-deep chain with one persisted sink runs exactly one action
    (the deposit): every upstream stage executes once inside it, shown
    by all observations resolving off that single pass. The old eager
    backend counted every stage, re-executing stage 0's lineage five
    times (O(depth²) scans)."""
    from pyspark.sql import functions as F

    def build_chain(name):
        p = Pipeline(name)
        p.add("t0", lambda s, _: s.range(1000).select(F.col("id")))
        for i in range(1, 5):
            p.add(
                f"t{i}",
                (lambda j: lambda s, d: d[f"t{j - 1}"].withColumn(f"v{j}", F.col("id") + j))(i),
                deps=(f"t{i - 1}",),
            )
        return p

    store = ImpressionStore(str(tmp_path / "imps"))
    out = LocalBackend(store=store, persist={"t4"}, observe=True).run(
        spark, build_chain("chain")
    )
    assert out["statuses"]["t4"] == "finished"
    for i in range(4):
        assert out["statuses"][f"t{i}"] == "compiled"
        # resolved from the single deposit action — stage ran (once)
        assert out["metrics"][f"t{i}"]["n_rows"] == 1000
    assert out["metrics"]["t4"]["n_rows"] == 1000

    # with no persisted sink the run triggers zero jobs: every
    # observation stays unresolved until the caller acts
    out2 = LocalBackend(observe=True).run(spark, build_chain("chain2"))
    assert all(v is None for v in out2["metrics"].values())
    assert out2["results"]["t4"].count() == 1000  # caller's own action


def test_impression_gc_and_archive(spark, tmp_path):
    from pyspark.sql import functions as F

    from yuki_spark.pipeline.backends import LocalBackend
    from yuki_spark.pipeline.dag import Pipeline
    from yuki_spark.pipeline.impressions import ImpressionStore

    store = ImpressionStore(str(tmp_path / "imp"))

    def mk(name):
        p = Pipeline(name)
        p.add("t", lambda s, _: s.range(5).select(F.col("id")))
        return p

    out1 = LocalBackend(store=store, persist={"t"}).run(spark, mk("p1"))
    imp = out1["impressions"]["t"]
    assert store.list_ids() == [imp]

    # archived impressions are skipped for reuse but survive gc
    store.archive(imp)
    p2 = mk("p2")
    LocalBackend(store=store, persist={"t"}).run(spark, p2)
    # archived deposit is not reused and not overwritten; the task is
    # recompiled for downstream consumers (no action of its own)
    assert p2.tasks["t"].status == "compiled"
    assert store.gc(keep=set()) == []  # archive shields from collection
    assert store.is_archived(imp)
    # a bare destructive sweep (no retention policy) must refuse
    with pytest.raises(ValueError):
        store.gc()
    assert store.gc(dry_run=True) == []  # preview stays allowed

    # unarchive via watermark, then gc with empty keep-set removes it
    store.watermark(imp, "archived", "false")
    assert store.gc(dry_run=True) == [imp]
    assert store.exists(imp)  # dry run touched nothing
    assert store.gc(keep=set()) == [imp]
    assert store.list_ids() == []


def test_plan_hash_compiles_fn_exactly_once(spark, tmp_path):
    """plan_hash addressing must reuse its addressing compile for
    execution — fn running twice per task would double the cost of
    every compile (and re-run an external task's whole wait budget)."""
    calls = {"n": 0}

    def fn(s, _):
        calls["n"] += 1
        return s.range(4).select(F.col("id"))

    p = Pipeline("once")
    p.add("t", fn)
    LocalBackend(plan_hash=True).run(spark, p)
    assert calls["n"] == 1
    assert p.tasks["t"].status == "compiled"


def test_external_wait_accepts_archived_deposit(spark, tmp_path):
    """Archiving shields a deposit from gc/overwrite — it must still
    satisfy a downstream wait (wait=False reads archived fine, and the
    two modes have to agree on what 'deposited' means)."""
    store = ImpressionStore(str(tmp_path / "imps"))

    up = Pipeline("up")
    up.add("src", lambda s, _: s.range(3).select(F.col("id")))
    out = LocalBackend(store=store, persist={"src"}).run(spark, up)
    imp = out["impressions"]["src"]
    store.archive(imp)

    down = Pipeline("down")
    down.external("dep", store, imp, wait=True, max_tries=2, poll_interval_s=0.01)
    down.add("use", lambda s, d: d["dep"], deps=("dep",))
    res = LocalBackend().run(spark, down)
    assert res["results"]["use"].count() == 3
    assert down.tasks["dep"].status == "compiled"


def test_reused_task_keeps_original_run_logs(spark, tmp_path):
    """A reused deposit must not have its logs.json clobbered with
    explain=None — the artifact from the run that produced the data
    is the whole point of log collection."""
    store = ImpressionStore(str(tmp_path / "imps"))

    def mk():
        p = Pipeline("logs")
        p.add("t", lambda s, _: s.range(5).select(F.col("id")))
        return p

    out1 = LocalBackend(store=store, persist={"t"}).run(spark, mk())
    imp = out1["impressions"]["t"]
    first = store.logs(imp)
    assert first["explain"]  # producing run deposited its plan

    p2 = mk()
    LocalBackend(store=store, persist={"t"}).run(spark, p2)
    assert p2.tasks["t"].status == "reused"
    after = store.logs(imp)
    assert after["status"] == "reused"
    assert after["explain"] == first["explain"]  # preserved, not None


def test_status_transition_table_models_backends():
    """Transitions the two backends actually produce must be legal:
    dry-run's waiting->compiled, and re-run resets back to waiting."""
    from yuki_spark.pipeline.status import StatusStore, InvalidTransition

    ss = StatusStore("/tmp/_yuki_status_probe.jsonl")
    ss.record("p", "t", "compiled", prev="waiting")
    ss.record("p", "t", "waiting", prev="compiled")
    ss.record("p", "t", "waiting", prev="finished")
    ss.record("p", "t", "waiting", prev="failed")
    with pytest.raises(InvalidTransition):
        ss.record("p", "t", "finished", prev="failed")


def test_dry_run_compiles_under_task_conf(spark):
    """Dry-run plans must reflect the task's runner conf — previewing
    a different plan than LocalBackend would execute defeats the
    point of a dry run."""
    seen = {}

    def fn(s, _):
        seen["v"] = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        return s.range(3).select(F.col("id"))

    p = Pipeline("dryconf")
    p.add("t", fn, conf={"spark.sql.autoBroadcastJoinThreshold": "-1"})
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    DryRunBackend().run(spark, p)
    assert seen["v"] == "-1"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_gc_collects_aged_logs_only_dirs(spark, tmp_path):
    """Failure artifacts (logs.json with no deposited data) obey the
    same retention sweep — they must not accumulate forever."""
    store = ImpressionStore(str(tmp_path / "imps"))

    def boom(s, _):
        raise RuntimeError("task exploded")

    p = Pipeline("fail")
    p.add("t", boom)
    LocalBackend(store=store).run(spark, p)
    imp = [d for d in __import__("os").listdir(store.root)][0]
    assert store.logs(imp) is not None and not store.exists(imp)
    assert store.gc(max_age_s=3600) == []  # too fresh
    assert store.gc(max_age_s=0) == [imp]  # aged out -> swept
    assert store.logs(imp) is None


def test_workflow_status_rollup(spark):
    """Parity: one workflow-level status derived from task statuses
    (VWorkflow.status / update_workflow_status)."""
    p = build_pipe()
    assert p.status() == "raw"
    LocalBackend().run(spark, p)
    assert p.status() == "finished"  # lazy: all compiled = satisfied
    assert p.to_plan()["status"] == "finished"  # rollup rides the plan export

    # failure (incl. upstream fan-out) dominates
    pf = build_pipe()
    pf.add("boom", lambda s, d: s.read.parquet("/nonexistent/nope.parquet"), deps=("by_segment",))
    pf.add("after_boom", lambda s, d: d["boom"], deps=("boom",))
    LocalBackend().run(spark, pf)
    assert pf.statuses()["after_boom"] == "upstream_failed"
    assert pf.status() == "failed"

    # a killed run rolls up failed
    pk = build_pipe()
    be = LocalBackend()
    be.kill(pk)
    be.run(spark, pk)
    assert pk.status() == "failed"

    # in-flight mix reads running; satisfied+untouched reads partial
    pr = build_pipe()
    pr.tasks["orders"].status = "running"
    assert pr.status() == "running"
    pp = build_pipe()
    pp.tasks["orders"].status = "finished"
    assert pp.status() == "partial"


def test_store_purge_keeps_reachable(spark, tmp_path):
    """purge() drops everything not reachable from the given
    pipelines: stale deposits and logs-only failure artifacts go,
    current addresses / external references / archived deposits stay."""
    store = ImpressionStore(str(tmp_path / "imps"))
    p = build_pipe()
    LocalBackend(store, persist={"by_segment"}).run(spark, p)
    current = set(p.impression_ids().values())
    kept_id = p.impression_ids()["by_segment"]
    assert store.exists(kept_id)

    # stale deposit (retired pipeline), logs-only artifact, archive
    store.write("deadbeef" * 4, spark.range(1))
    store.write_logs("cafebabe" * 4, {"error": "boom"})
    store.write("feedface" * 4, spark.range(1))
    store.archive("feedface" * 4)

    # an external reference into another store id must survive too
    ext_id = "12345678" * 4
    store.write(ext_id, spark.range(2))
    p2 = Pipeline("consumer")
    p2.external("upstream", store, ext_id)

    removed = store.purge([p, p2])
    assert "deadbeef" * 4 in removed and "cafebabe" * 4 in removed
    assert store.exists(kept_id) and store.exists(ext_id)
    assert store.is_archived("feedface" * 4)
    assert not set(removed) & current


def test_store_purge_keeps_plan_hashed_deposits(spark, tmp_path):
    """plan_hash=True deposits live at plan-folded addresses the
    structural derivation can't reproduce; purge must keep them via
    the recorded Task.impression."""
    store = ImpressionStore(str(tmp_path / "imps"))
    p = build_pipe()
    LocalBackend(store, persist={"by_segment"}, plan_hash=True).run(spark, p)
    dep = p.tasks["by_segment"].impression
    assert dep is not None and store.exists(dep)
    assert dep != p.impression_ids()["by_segment"]  # address is plan-folded
    removed = store.purge([p])
    assert store.exists(dep) and dep not in removed


def test_topo_levels_partition_and_cycles():
    p = build_pipe()
    levels = p.topo_levels()
    assert levels == [["customer", "orders"], ["joined"], ["by_segment"]]
    assert [n for lvl in levels for n in lvl] != [] and sorted(
        n for lvl in levels for n in lvl
    ) == sorted(p.tasks)
    c = Pipeline("cyc")
    c.add("a", lambda s, d: None, deps=("b",))
    c.add("b", lambda s, d: None, deps=("a",))
    with pytest.raises(CycleError):
        c.topo_levels()


def test_run_parallel_matches_sequential(spark, tmp_path):
    """Level-parallel execution (O20) must reproduce the sequential
    backend's statuses, impressions, and results — including failure
    fan-out from one branch while a sibling branch finishes."""
    store = ImpressionStore(str(tmp_path / "imps"))
    seq = LocalBackend(ImpressionStore(str(tmp_path / "imps_seq")), persist={"by_segment"}).run(
        spark, build_pipe()
    )
    p = build_pipe()
    par = LocalBackend(store, persist={"by_segment"}).run_parallel(spark, p, max_workers=4)
    assert par["statuses"] == seq["statuses"]
    assert sorted(par["impressions"]) == sorted(seq["impressions"])
    a = {r["c_mktsegment"]: r["n"] for r in par["results"]["by_segment"].collect()}
    b = {r["c_mktsegment"]: r["n"] for r in seq["results"]["by_segment"].collect()}
    assert a == b

    # failure in one branch: sibling level-mates still finish, and the
    # fan-out lands before the next level starts
    p2 = build_pipe()
    p2.add("boom", lambda s, d: s.read.parquet("/nonexistent/nope.parquet"),
           deps=("orders",))
    p2.add("after_boom", lambda s, d: d["boom"], deps=("boom",))
    out = LocalBackend().run_parallel(spark, p2, max_workers=4)
    assert out["statuses"]["boom"] == "failed"
    assert out["statuses"]["after_boom"] == "upstream_failed"
    assert out["statuses"]["by_segment"] == "compiled"


def test_run_async_dispatch_and_poll(spark):
    """O20's Celery-parity surface: dispatch returns immediately with
    a pollable handle; join() returns the backend result; statuses are
    live during execution."""
    import time

    p = build_pipe()

    def slow(s, d):
        time.sleep(1.0)
        return d["by_segment"]

    p.add("slow_tail", slow, deps=("by_segment",))
    be = LocalBackend(eager=True)
    h = be.run_async(spark, p)
    # the handle exists before completion; poll until done
    deadline = time.time() + 120
    saw_live = False
    while not h.done():
        saw_live = True
        assert h.status() in ("raw", "running", "partial", "finished")
        if time.time() > deadline:
            raise AssertionError("async run never completed")
        time.sleep(0.05)
    out = h.join()
    assert out["statuses"]["slow_tail"] == "finished"
    assert saw_live, "run finished before a single poll — not async-observable"
    assert h.status() == "finished"


def test_run_async_join_timeout_and_kill(spark):
    import time

    p = build_pipe()

    def sleepy(s, d):
        time.sleep(3.0)
        return d["by_segment"]

    p.add("sleepy", sleepy, deps=("by_segment",))
    be = LocalBackend(eager=True)
    h = be.run_async(spark, p)
    with pytest.raises(TimeoutError):
        h.join(timeout=0.2)
    h.kill()
    out = h.join(timeout=120)
    # the in-flight task finishes or is marked failed by the kill;
    # nothing may be left in a live state
    assert all(
        s in ("finished", "compiled", "failed", "reused")
        for s in out["statuses"].values()
    )


def test_kill_is_per_pipeline_not_per_backend(spark):
    """Killing one pipeline must stay sticky for THAT pipeline object
    while leaving the backend fully usable: a sibling pipeline and a
    rebuilt copy of the killed one both execute normally."""
    be = LocalBackend()
    p1 = build_pipe()
    be.kill(p1)
    out1 = be.run(spark, p1)
    assert all(s in ("failed", "waiting") for s in out1["statuses"].values())
    # sibling pipeline on the SAME backend is unaffected
    p2 = build_pipe()
    out2 = be.run(spark, p2)
    assert out2["statuses"]["by_segment"] == "compiled"
    # a rebuilt copy of the killed workflow runs (kill tracks the
    # object, not the name)
    p3 = build_pipe()
    out3 = be.run(spark, p3)
    assert out3["statuses"]["by_segment"] == "compiled"
    # and the killed object itself stays killed on re-run
    out4 = be.run(spark, p1)
    assert all(s in ("failed", "waiting") for s in out4["statuses"].values())


def test_impression_compact_plain_and_partitioned(spark, tmp_path):
    """compact() merges a fragmented deposit into few files while
    preserving rows, schema, and hive partitioning; an already-compact
    deposit is a no-op."""
    store = ImpressionStore(str(tmp_path / "imps"))
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")

    # fragment hard: 16 files for a tiny table
    store.write("frag", df.repartition(16))
    before = store.data_files("frag")
    assert len(before) == 16
    rows_before = sorted(r["o_orderkey"] for r in store.read(spark, "frag").collect())
    out = store.compact(spark, "frag", target_file_bytes=1 << 30)
    assert out["compacted"] and out["files_after"] < out["files_before"]
    assert out["files_after"] == 1  # tiny table, one target file
    after = store.read(spark, "frag")
    assert sorted(r["o_orderkey"] for r in after.collect()) == rows_before
    assert "compacted_at" in store.meta("frag")
    # second pass: already at target -> no-op
    again = store.compact(spark, "frag", target_file_bytes=1 << 30)
    assert not again["compacted"]

    # partitioned deposit keeps its layout
    store.write("part", df.repartition(8), partition_by=["o_orderstatus"])
    assert store.meta("part")["partition_by"] == ["o_orderstatus"]
    n_before = store.read(spark, "part").count()
    outp = store.compact(spark, "part", target_file_bytes=1 << 30)
    assert outp["compacted"]
    base = store._dir("part") + "/data.parquet"
    import os as _os

    parts = sorted(
        d for d in _os.listdir(base) if d.startswith("o_orderstatus=")
    )
    assert parts == ["o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]
    got = store.read(spark, "part")
    assert got.count() == n_before
    assert "o_orderstatus" in got.columns


def test_impression_lineage_walk(spark, tmp_path):
    """lineage() reconstructs the provenance closure from deposited
    metadata: persisted ancestors resolve to their deposits, lazy
    ancestors surface as structural name@version references."""
    store = ImpressionStore(str(tmp_path / "imps"))
    p = build_pipe()
    out = LocalBackend(store, persist={"joined", "by_segment"}).run(spark, p)
    top = out["impressions"]["by_segment"]
    mid = out["impressions"]["joined"]
    lin = store.lineage(top)
    assert lin[top]["deposited"] and lin[top]["task"] == "by_segment"
    assert mid in lin and lin[mid]["deposited"] and lin[mid]["task"] == "joined"
    # sources were lazy: their content addresses appear in the walk as
    # non-deposited leaves, and they are exactly joined's recorded deps
    leaves = {k for k, v in lin.items() if not v["deposited"]}
    assert len(leaves) == 2
    assert set(lin[mid]["deps"]) == leaves
    assert all(lin[leaf]["task"] is None for leaf in leaves)


def test_impression_compact_recovers_from_crash_states(spark, tmp_path):
    """A crash between compact()'s two renames must not leave a deposit
    that looks healthy while unreadable: the next compact() restores a
    mid-swap .old, discards a stale temp rewrite, and cleans a
    post-swap leftover."""
    import os
    import shutil

    store = ImpressionStore(str(tmp_path / "imps"))
    store.write("c", spark.range(500).repartition(6))
    base = os.path.join(store._dir("c"), "data.parquet")

    # simulate crash mid-swap: live dir renamed away, tmp never moved in
    shutil.copytree(base, base + ".compact-tmp")
    os.rename(base, base + ".old")
    assert store.exists("c")  # meta survives — looked "deposited"
    out = store.compact(spark, "c", target_file_bytes=1 << 30)
    assert out["compacted"] and out["files_after"] == 1
    assert not os.path.exists(base + ".old")
    assert not os.path.exists(base + ".compact-tmp")
    assert store.read(spark, "c").count() == 500

    # simulate crash after the swap: .old leftover beside a live dir
    shutil.copytree(base, base + ".old")
    out2 = store.compact(spark, "c", target_file_bytes=1 << 30)
    assert not os.path.exists(base + ".old")
    assert store.read(spark, "c").count() == 500
    assert not out2["compacted"]  # already at target

    # healing is NOT compact-only: a mid-swap crash state recovers on
    # a plain read()/data_files() too (no masquerading-empty deposit)
    os.rename(base, base + ".old")
    assert store.read(spark, "c").count() == 500
    os.rename(base, base + ".old")
    assert len(store.data_files("c")) == 1


def test_run_async_on_caller_session_sees_temp_views(spark):
    """isolate_conf=False runs the dispatched pipeline on the caller's
    session, so task fns may read caller-registered temp views — the
    documented trade-off against conf isolation (which is the
    default)."""
    spark.range(7).createOrReplaceTempView("async_seed_view")
    p = Pipeline("tv")
    p.source("seed", lambda s, _: s.table("async_seed_view"))
    p.add("doubled", lambda s, d: d["seed"].selectExpr("id * 2 AS id2"),
          deps=("seed",))
    be = LocalBackend(eager=True)
    h = be.run_async(spark, p, isolate_conf=False)
    out = h.join(timeout=120)
    assert out["statuses"]["doubled"] == "finished"
    assert out["results"]["doubled"].count() == 7


def test_compact_preserves_string_partition_values(spark, tmp_path):
    """compact() must re-read under the deposit's RECORDED schema: a
    hive-partitioned deposit with a string partition value like '01'
    would otherwise be re-inferred as int on the compaction read and
    persisted with a silently changed schema + values (r4 advice)."""
    store = ImpressionStore(str(tmp_path / "imps"))
    df = spark.createDataFrame(
        [(i, f"{i % 3:02d}") for i in range(300)], "k int, bucket string"
    )
    store.write("sp", df.repartition(8), partition_by=["bucket"])
    before = sorted(
        (r["k"], r["bucket"]) for r in store.read(spark, "sp").collect()
    )
    assert {b for _, b in before} == {"00", "01", "02"}  # leading zeros intact
    out = store.compact(spark, "sp", target_file_bytes=1 << 30)
    assert out["compacted"]
    got = store.read(spark, "sp")
    assert dict(got.dtypes)["bucket"] == "string"
    assert sorted((r["k"], r["bucket"]) for r in got.collect()) == before
    # recorded meta schema unchanged by the rewrite
    fields = {f["name"]: f["type"] for f in store.meta("sp")["schema"]["fields"]}
    assert fields["bucket"] == "string"


def test_read_path_heal_never_deletes_live_tmp(spark, tmp_path):
    """With run_parallel/run_async a read can race an in-flight
    compact(); the read path's crash-heal must not rmtree the
    .compact-tmp directory the rewrite is mid-writing (r4 advice).
    Only compact() itself discards a stale tmp."""
    import os

    store = ImpressionStore(str(tmp_path / "imps"))
    store.write("r", spark.range(100).repartition(4))
    base = os.path.join(store._dir("r"), "data.parquet")
    os.makedirs(base + ".compact-tmp")  # stands in for a live rewrite
    assert store.read(spark, "r").count() == 100
    store.data_files("r")
    assert os.path.exists(base + ".compact-tmp")  # read paths left it alone
    out = store.compact(spark, "r", target_file_bytes=1 << 30)  # full heal
    assert out["compacted"]
    assert not os.path.exists(base + ".compact-tmp")


def test_persist_publishes_over_logs_only_dir_and_keeps_logs(spark, tmp_path):
    """A persisted task whose address holds the logs-only directory of
    an earlier failed run publishes on the next run, and the failed
    run's logs.json survives the atomic rename."""
    import os

    store = ImpressionStore(str(tmp_path / "imps"))
    state = {"fail": True}

    def fn(s, _):
        if state["fail"]:
            raise RuntimeError("first run fails")
        return s.range(5)

    def mk():
        p = Pipeline("retry")
        p.add("t", fn)
        return p

    imp = LocalBackend(store=store, persist={"t"}).run(spark, mk())["impressions"]["t"]
    assert not store.exists(imp) and store.logs(imp)["status"] == "failed"

    state["fail"] = False
    p2 = mk()
    LocalBackend(store=store, persist={"t"}, collect_logs=False).run(spark, p2)
    assert p2.tasks["t"].status == "finished"
    assert store.read(spark, imp).count() == 5
    assert store.logs(imp)["status"] == "failed"  # carried into the deposit
    assert sorted(os.listdir(store.root)) == store.list_ids() == [imp]


def test_write_never_overwrites_a_completed_deposit(spark, tmp_path):
    """First writer wins: a second write to a deposited address leaves
    the first deposit's rows and meta untouched."""
    import os

    store = ImpressionStore(str(tmp_path / "imps"))
    store.write("d", spark.range(10))
    created = store.meta("d")["created_at"]
    store.write("d", spark.range(20))
    assert store.read(spark, "d").count() == 10
    assert store.meta("d")["created_at"] == created
    assert sorted(os.listdir(store.root)) == store.list_ids() == ["d"]


def test_failed_persist_leaves_no_deposit_and_no_temp(spark, tmp_path):
    """A persisted task whose DataFrame raises mid-action leaves
    neither a deposit nor a temp copy behind."""
    import os

    store = ImpressionStore(str(tmp_path / "imps"))
    p = Pipeline("boom")
    p.add(
        "t",
        lambda s, _: s.range(10).select(
            F.when(F.col("id") == 7, F.raise_error(F.lit("mid-action")))
            .otherwise(F.col("id"))
            .alias("id")
        ),
    )
    LocalBackend(store=store, persist={"t"}, collect_logs=False).run(spark, p)
    assert p.tasks["t"].status == "failed"
    assert store.list_ids() == [] and os.listdir(store.root) == []


def test_concurrent_writes_to_one_address_publish_once(spark, tmp_path):
    """Two threads writing one address both get readable data back,
    and exactly one deposit remains."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    store = ImpressionStore(str(tmp_path / "imps"))

    def write_and_read(n):
        store.write("c", spark.range(n).repartition(4))
        return store.read(spark, "c").count()

    with ThreadPoolExecutor(2) as ex:
        counts = list(ex.map(write_and_read, (10, 20)))
    assert counts[0] == counts[1] and counts[0] in (10, 20)
    assert store.verify("c")["ok"]
    assert sorted(os.listdir(store.root)) == store.list_ids() == ["c"]


def test_kill_landing_mid_task_keeps_failed_status(spark):
    """A kill that lands while a task is executing must not be
    overwritten by that task's completion (r4 advice): the final
    status assignment re-checks the killed set."""
    be = LocalBackend(eager=True)
    p = Pipeline("midkill")
    p.source("seed", lambda s, _: s.range(5))

    def slow_then_done(s, d):
        be.kill(p)  # kill arrives while this task is mid-run
        return d["seed"].selectExpr("id * 2 AS id2")

    p.add("worker", slow_then_done, deps=("seed",))
    out = be.run(spark, p)
    assert out["statuses"]["worker"] == "failed"
    assert p.status() == "failed"


# ---------------------------------------------------------------------------
# Backend registry + routed execution (runner.py / execution.py parity)
# ---------------------------------------------------------------------------


def _routed_pipe():
    p = Pipeline("routed")
    p.source("orders", lambda s, _: s.read.parquet(f"{SF_SMOKE}/orders.parquet"))
    p.add(
        "heavy",
        lambda s, d: d["orders"].groupBy("o_orderstatus").count(),
        deps=("orders",),
        runner="cluster",
    )
    p.add(
        "report",
        lambda s, d: d["heavy"].selectExpr(
            "o_orderstatus", "count * 2 AS doubled"
        ),
        deps=("heavy",),
    )
    return p


def test_registry_routes_tasks_across_two_backends(spark, tmp_path):
    """One pipeline, two runners: the 'cluster' task executes on an
    isolated session (RemoteSessionBackend), its output crosses the
    runner boundary through the shared store, and the local 'report'
    task consumes the deposit. Statuses roll up on the one Pipeline."""
    from yuki_spark.pipeline.backends import RemoteSessionBackend
    from yuki_spark.pipeline.registry import BackendRegistry

    store = ImpressionStore(str(tmp_path / "imps"))
    reg = BackendRegistry(store)
    local = LocalBackend(store, eager=True)
    remote = RemoteSessionBackend(store, eager=True)
    reg.register("local", local, backend_type="local")
    reg.register("cluster", remote, backend_type="spark-remote")
    assert reg.runners() == ["cluster", "local"]

    p = _routed_pipe()
    out = reg.run(spark, p, default_runner="local")
    assert out["routing"] == {
        "orders": "local", "heavy": "cluster", "report": "local",
    }
    assert out["statuses"]["heavy"] == "finished"  # boundary → persisted
    assert out["statuses"]["report"] == "finished"
    assert p.status() == "finished"
    # the boundary deposit exists in the shared store
    assert store.exists(out["impressions"]["heavy"])
    # the remote task really ran on a different session
    assert remote._session is not None
    assert remote._session is not spark
    # and the result is correct end-to-end
    got = {r["o_orderstatus"]: r["doubled"] for r in out["results"]["report"].collect()}
    exp = {
        r["o_orderstatus"]: r["count"] * 2
        for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_orderstatus").count().collect()
    }
    assert got == exp
    # connection probes (runner-connection parity)
    assert reg.connection("cluster") == {"status": "Connected"}
    assert reg.connection("local") == {"status": "Connected"}


def test_remote_backend_probe_before_first_session(tmp_path):
    """connection() must not claim Connected before any session exists:
    a local-session backend reports its not-yet-connected state, and a
    backend pointed at an unreachable remote_url reports unreachable
    (previously both short-circuited to Connected)."""
    from yuki_spark.pipeline.backends import RemoteSessionBackend

    local = RemoteSessionBackend(None)
    assert local.connection()["status"].startswith("not yet connected")
    bad = RemoteSessionBackend(None, remote_url="sc://127.0.0.1:1")
    assert bad.connection()["status"] != "Connected"


def test_registry_unknown_runner_fails_before_any_task(spark, tmp_path):
    from yuki_spark.pipeline.registry import BackendRegistry, UnknownRunnerError

    reg = BackendRegistry(ImpressionStore(str(tmp_path / "imps")))
    reg.register("local", LocalBackend(eager=True))
    p = _routed_pipe()  # routes 'heavy' to unregistered 'cluster'
    with pytest.raises(UnknownRunnerError, match="cluster"):
        reg.run(spark, p, default_runner="local")
    # nothing executed: the routing resolves before the first task
    assert all(t.status == "raw" for t in p.tasks.values())
    with pytest.raises(UnknownRunnerError):
        reg.backend_for("nope")
    with pytest.raises(UnknownRunnerError):
        reg.remove("nope")


def test_registry_register_remove_metadata(tmp_path):
    from yuki_spark.pipeline.backends import RemoteSessionBackend
    from yuki_spark.pipeline.registry import BackendRegistry

    store = ImpressionStore(str(tmp_path / "imps"))
    reg = BackendRegistry(store)
    rid = reg.register(
        "r1", RemoteSessionBackend(store), backend_type="spark-remote",
        url="sc://host:15002", token="secret",
    )
    info = reg.info("r1")
    assert info["id"] == rid and info["backend_type"] == "spark-remote"
    assert info["url"] == "sc://host:15002"
    # token stored as digest only (never in the clear)
    import hashlib as h
    assert info["token_sha256"] == h.sha256(b"secret").hexdigest()
    assert "secret" not in str(info)
    with pytest.raises(ValueError, match="already registered"):
        reg.register("r1", RemoteSessionBackend(store))
    # a backend pinned to a DIFFERENT store cannot join the registry
    other = ImpressionStore(str(tmp_path / "other"))
    with pytest.raises(ValueError, match="shared store"):
        reg.register("r2", LocalBackend(other))
    reg.remove("r1")
    assert reg.runners() == []


def test_registry_async_routed_run_and_kill(spark, tmp_path):
    """run_async returns the pollable handle (run-route parity) and
    registry.kill reaches every backend."""
    from yuki_spark.pipeline.backends import RemoteSessionBackend
    from yuki_spark.pipeline.registry import BackendRegistry

    store = ImpressionStore(str(tmp_path / "imps"))
    reg = BackendRegistry(store)
    reg.register("local", LocalBackend(store, eager=True))
    reg.register("cluster", RemoteSessionBackend(store, eager=True))
    p = _routed_pipe()
    h = reg.run_async(spark, p, default_runner="local")
    out = h.join(timeout=180)
    assert out["statuses"]["report"] == "finished"
    assert h.done()
    # kill a fresh pipeline object across all backends: sticky
    p2 = _routed_pipe()
    reg.kill(p2)
    out2 = reg.run(spark, p2, default_runner="local")
    assert all(s in ("failed", "waiting") for s in out2["statuses"].values())


def test_impression_export_and_get_file(spark, tmp_path):
    """export() stages a deposit (data + meta + logs) out of the store
    (upload.py export parity); get_file resolves one named file and
    raises NOTFOUND-style on absence."""
    import os

    store = ImpressionStore(str(tmp_path / "imps"))
    p = build_pipe()
    out = LocalBackend(store, persist={"by_segment"}).run(spark, p)
    imp = out["impressions"]["by_segment"]
    dest = str(tmp_path / "staged")
    rels = store.export(imp, dest)
    assert "meta.json" in rels and "logs.json" in rels
    assert any(r.endswith(".parquet") for r in rels)
    # the exported copy is a readable parquet deposit in its own right
    n_src = store.read(spark, imp).count()
    assert spark.read.parquet(os.path.join(dest, "data.parquet")).count() == n_src
    # single-file export
    one = store.export(imp, str(tmp_path / "single"), filename="meta.json")
    assert one == ["meta.json"]
    assert os.path.isfile(tmp_path / "single" / "meta.json")
    # get_file resolves a bare parquet part basename by search
    part = os.path.basename(store.data_files(imp)[0])
    assert store.get_file(imp, part).endswith(part)
    # ... and the documented data_files round-trip: a full part path
    # (absolute, inside the impression dir) resolves to itself
    full = store.data_files(imp)[0]
    assert store.get_file(imp, full) == os.path.normpath(full)
    with pytest.raises(FileNotFoundError, match="NOTFOUND"):
        store.get_file(imp, "nope.bin")
    with pytest.raises(FileNotFoundError):
        store.export("not-deposited", dest)
    # traversal-safe (send_from_directory parity): '../' joins and
    # absolute names never resolve outside the impression directory —
    # they are NOTFOUND, and export refuses to copy through them
    (tmp_path / "imps" / "secret.txt").write_text("outside the deposit")
    with pytest.raises(FileNotFoundError, match="NOTFOUND"):
        store.get_file(imp, "../secret.txt")
    with pytest.raises(FileNotFoundError, match="NOTFOUND"):
        store.get_file(imp, str(tmp_path / "imps" / "secret.txt"))
    with pytest.raises(FileNotFoundError, match="NOTFOUND"):
        store.export(imp, str(tmp_path / "evil"), filename="../secret.txt")


def test_impression_bookkeep_manifest(spark, tmp_path):
    """bookkeep() persists the pipeline definition as a content-
    addressed, auto-archived manifest impression whose lineage reaches
    every deposit the pipeline produced (status.py bookkeeping
    parity)."""
    store = ImpressionStore(str(tmp_path / "imps"))
    p = build_pipe()
    out = LocalBackend(store, persist={"joined", "by_segment"}).run(spark, p)
    bk = store.bookkeep(p)
    assert bk.startswith("bk-") and store.exists(bk)
    assert store.is_archived(bk)
    body = store.manifest(bk)
    assert body["pipeline"] == p.name
    assert set(body["tasks"]) == set(p.tasks)
    assert body["tasks"]["by_segment"]["impression"] == out["impressions"]["by_segment"]
    # lineage from the manifest walks into the pipeline's deposits
    lin = store.lineage(bk)
    assert lin[out["impressions"]["by_segment"]]["deposited"]
    assert lin[out["impressions"]["joined"]]["deposited"]
    # unchanged definition -> same snapshot id (no duplicate)
    assert store.bookkeep(p) == bk
    # changed definition -> new snapshot
    p.tasks["by_segment"].version = "2"
    bk2 = store.bookkeep(p)
    assert bk2 != bk and store.exists(bk) and store.exists(bk2)
    # retention sweeps never collect the bookkeeping trail (archived)
    assert bk not in store.gc(keep=set(), dry_run=True)


def test_bookkeep_id_invariant_under_run_state(spark, tmp_path):
    """The bookkeeping address hashes the DEFINITION, not run state:
    running an identical pipeline again (statuses flip finished ->
    reused) must not book a duplicate snapshot."""
    store = ImpressionStore(str(tmp_path / "imps"))
    be = LocalBackend(store, persist={"by_segment"})
    p = build_pipe()
    be.run(spark, p)
    bk1 = store.bookkeep(p)
    p2 = build_pipe()
    out2 = be.run(spark, p2)  # same definition, deposits now reused
    assert out2["statuses"]["by_segment"] == "reused"
    assert store.bookkeep(p2) == bk1


def test_routed_run_fails_loud_on_archived_boundary_deposit(spark, tmp_path):
    """A runner-boundary task whose deposit is archived can neither be
    reused nor rewritten — the routed run must raise instead of
    silently passing a foreign session's DataFrame across runners."""
    from yuki_spark.pipeline.backends import RemoteSessionBackend
    from yuki_spark.pipeline.registry import BackendRegistry

    store = ImpressionStore(str(tmp_path / "imps"))
    reg = BackendRegistry(store)
    # LAZY backends: the archived address is neither reused nor
    # rewritten, leaving the boundary task 'compiled' — the hole.
    # (Eager backends re-execute and read the archived deposit, which
    # is correct by the content-address contract.)
    reg.register("local", LocalBackend(store))
    reg.register("cluster", RemoteSessionBackend(store))
    p = _routed_pipe()
    out = reg.run(spark, p, default_runner="local")
    store.archive(out["impressions"]["heavy"])
    p2 = _routed_pipe()
    with pytest.raises(RuntimeError, match="no readable deposit"):
        reg.run(spark, p2, default_runner="local")


def test_impression_verify_detects_damage(spark, tmp_path):
    """verify() is the store's fsck: green on a healthy deposit (and
    after a compaction rewrite), and reports missing/resized/
    unrecorded part files and row-count drift on a damaged one."""
    import os

    store = ImpressionStore(str(tmp_path / "imps"))
    store.write("v", spark.range(1000).selectExpr("id", "id % 5 AS g").repartition(4))
    assert store.verify("v") == {"ok": True, "problems": []}
    assert store.verify("v", deep=True)["ok"]

    # compaction rewrites every part file; the refreshed inventory
    # must keep verify green and the row count intact
    out = store.compact(spark, "v", target_file_bytes=1 << 30)
    assert out["compacted"]
    assert store.verify("v", deep=True) == {"ok": True, "problems": []}

    # damage 1: truncate a part file (size drift)
    part = store.data_files("v")[0]
    size = os.path.getsize(part)
    with open(part, "r+b") as fh:
        fh.truncate(size - 10)
    rep = store.verify("v")
    assert not rep["ok"] and any("bytes" in p for p in rep["problems"])

    # damage 2: delete the part entirely
    os.remove(part)
    rep = store.verify("v")
    assert not rep["ok"] and any("missing part file" in p for p in rep["problems"])

    # damage 3: an unrecorded file appears. coalesce(1): with more
    # executor threads than rows, range() emits EMPTY part files, and
    # copying an empty part as the rogue would add zero rows — the
    # row-drift assertion below needs the rogue to carry rows.
    store.write("w", spark.range(10).coalesce(1))
    base = os.path.join(store._dir("w"), "data.parquet")
    good = store.data_files("w")[0]
    import shutil

    shutil.copy(good, os.path.join(base, "part-rogue.parquet"))
    rep = store.verify("w")
    assert not rep["ok"]
    assert any("unrecorded" in p for p in rep["problems"])
    assert any("row count" in p for p in rep["problems"])
