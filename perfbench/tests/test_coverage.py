"""Self-tests of the benchmark's own bookkeeping (no Spark session).

    python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import datagen  # noqa: E402
import workloads as wl  # noqa: E402
from __spark_entry__ import queries  # noqa: E402


def test_families_partition_queries():
    keys = set(queries())
    rel = {k for k in keys if wl.family(k) == "relational"}
    cor = keys - rel
    assert rel and cor and rel.isdisjoint(cor)
    assert set(wl.RELATIONAL) | set(wl.RELATIONAL_CUT) == rel
    assert set(wl.timed_keys("corpus")) | set(wl.CORPUS_CUT) == cor


def test_timed_and_cut_lists_are_disjoint_and_unique():
    for timed, cut in (
        (wl.RELATIONAL, wl.RELATIONAL_CUT),
        (wl.CORPUS_COLD, wl.CORPUS_CUT),
        (wl.CORPUS_WARM, wl.CORPUS_CUT),
    ):
        assert len(set(timed)) == len(timed)
        assert len(set(cut)) == len(cut)
        assert set(timed).isdisjoint(cut)


def test_every_timed_key_has_a_reference():
    with open(os.path.join(BENCH, "references.json")) as f:
        refs = json.load(f)["digests"]
    assert set(refs) == set(wl.RELATIONAL) | set(wl.timed_keys("corpus"))


def test_catalog_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_catalog(str(a), 0.001, 42)
    datagen.write_catalog(str(b), 0.001, 42)
    for name in sorted(os.listdir(a)):
        assert pq.read_table(a / name).equals(pq.read_table(b / name)), name


def test_ingest_survivors_follow_arrival_order():
    docs, cluster = datagen.ingest_corpus(200)
    for seed in range(3):
        batches = datagen.split_batches(200, 4, seed)
        assert sorted(int(x) for b in batches for x in b) == list(range(200))
        keep = datagen.ingest_survivors(batches, cluster)
        # one survivor per duplicate cluster, and it is a member of it
        assert sorted(int(cluster[d]) for d in keep) == sorted(set(cluster.tolist()))
        first = {}
        for i, b in enumerate(batches):
            for d in b:
                first.setdefault(int(cluster[d]), i)
        for d in keep:
            assert d in batches[first[int(cluster[d])]]
