"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (pricing summary) at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2, in sweep
order (see :func:`_sweep_order`).
``oracle_sql()`` — DuckDB twins for the driver's correctness gate.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from yuki_spark.queries import curation, docs, events, sim, tpch


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001")


# Keys whose code changed after their last ledger row, each mapped to
# the last round whose row predates the change. An entry heads the
# sweep while the key's newest stamp is at most that round, so it
# expires once a later sweep re-stamps the key; delete it then.
_TOUCHED = {
    # read dedup_family's rep_pairs08 / rep_lsh95 pair deposits, whose
    # emission in operators/dedup.py was reverted after r15
    "d2_ngram_jaccard_dups": 15,
    "d3_minhash_lsh_dups": 15,
    "d33_split_leakage": 15,
    "d36_cross_source_dups": 15,
    "d38_threshold_sweep": 15,
    # read the rep_clusters08 deposit: CC labels over those pairs
    "d11_dedup_clusters": 15,
    "d20_dedup_apply": 15,
    "d39_cluster_sizes": 15,
    "d49_retraction_impact": 15,
}


def _sweep_order(keys: list[str]) -> list[str]:
    """``keys`` in correctness-sweep order (a round checks the first
    50), derived from the ``CORRECTNESS_r*.json`` ledger beside this
    file: live ``_TOUCHED`` keys, then keys never stamped (in ``keys``
    order), then the rest by oldest last stamp, a round's keys in that
    round's file order."""
    stamp: dict[str, tuple[int, int]] = {}
    for path in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            for pos, key in enumerate(json.loads(path.read_text())):
                stamp[key] = max(stamp.get(key, (0, 0)), (int(m.group(1)), pos))
    head = [
        k for k, r in _TOUCHED.items() if k in keys and stamp.get(k, (0, 0))[0] <= r
    ]
    rest = [k for k in keys if k not in head]
    return head + sorted(rest, key=lambda k: stamp.get(k, (0, 0)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in (tpch, events, docs, sim, curation):
        merged.update(mod.QUERIES)
    return {k: merged[k] for k in _sweep_order(list(merged))}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    # docs'/sim's adaptive twins derive their parameters (pairwise
    # doc cap, LSH planes/bits) from the gate catalog: build them at
    # call time so YUKI_SPARK_TEST_SF is honored now, not at whatever
    # moment the module was first imported
    out.update(docs.build_oracle())
    out.update(sim.build_oracle())
    out.update(curation.build_oracle())
    out.update(events.ORACLE)
    out.update(tpch.ORACLE)
    return out
