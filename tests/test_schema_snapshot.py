"""Output-schema stability gate for the driver contract.

The driver's correctness hash covers each key's SCHEMA as well as its
values, but it samples only 50 keys per round — a schema change on an
unswept key (a renamed alias, a silent type widening) would pass CI
here and fail the driver gate one or two rounds later, against stale
code. This gate pins every key's (column, dtype) list against a
committed snapshot at COMPILE time (no execution — plan analysis
only), so drift is caught in the round that introduces it.

Intentional schema changes update the snapshot: run the generator at
the bottom of this file and commit the diff alongside the change.
"""
from __future__ import annotations

import glob
import json
import os
import re

import pytest

import __spark_entry__ as entrymod

_SNAP_PATH = os.path.join(os.path.dirname(__file__), "schema_snapshot.json")
with open(_SNAP_PATH) as _fh:
    SNAPSHOT = json.load(_fh)

QUERIES = entrymod.queries()


def test_snapshot_covers_exactly_the_query_surface():
    """One snapshot row per queries() key — a new key must ship its
    schema pin in the same commit, and a deleted key must drop it."""
    assert set(SNAPSHOT) == set(QUERIES)


def test_every_key_has_an_oracle():
    """Every key is oracle-gated."""
    oracles = entrymod.oracle_sql()
    assert set(QUERIES) <= set(oracles)


def test_sweep_order_follows_the_correctness_ledger():
    """queries() comes out in correctness-sweep order: the live
    touched-key head, then keys with no ledger row, then the rest by
    oldest last stamp — so the capped 50-key sweep always reaches the
    least recently validated keys."""
    from yuki_spark.queries import curation, docs, events, sim, tpch

    registry = [
        k for m in (tpch, events, docs, sim, curation) for k in m.QUERIES
    ]
    order = list(QUERIES)
    assert sorted(order) == sorted(registry) and len(set(order)) == len(order)

    last: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for key in json.load(fh):
                last[key] = max(last.get(key, 0), rnd)
    live = [
        k
        for k, r in entrymod._TOUCHED.items()
        if k in registry and last.get(k, 0) <= r
    ]
    assert order[: len(live)] == live
    rounds = [last.get(k, 0) for k in order[len(live):]]
    assert rounds == sorted(rounds)

    # at the committed ledger: the four keys with no ledger row and
    # the fourteen whose newest row is r11 all fall inside the cap
    first50 = set(order[:50])
    never = {k for k in registry if k not in last}
    assert {
        "pl1_curation_pipeline",
        "d59_classifier_train",
        "d60_learned_classifier_filter",
        "m4_video_scene_cuts",
    } <= never <= first50
    r11 = {k for k in registry if last.get(k) == 11}
    assert len(r11) == 14 and r11 <= first50


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_schema_matches_snapshot(spark, name):
    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    got = [[c, t] for c, t in df.dtypes]
    assert got == SNAPSHOT[name], (
        f"{name} output schema drifted; if intentional, regenerate "
        "tests/schema_snapshot.json (see module docstring)"
    )


# Snapshot generator (run manually):
#   python - <<'PY'
#   import json
#   from yuki_spark.session import get_spark
#   import __spark_entry__ as e
#   spark = get_spark()
#   snap = {n: [[c, t] for c, t in f(spark, "/root/testdata/sf0.001").dtypes]
#           for n, f in sorted(e.queries().items())}
#   with open("tests/schema_snapshot.json", "w") as fh:
#       json.dump(snap, fh, indent=1, sort_keys=True); fh.write("\n")
#   PY
