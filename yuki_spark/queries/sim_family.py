"""Shared, content-addressed ANN result artifacts for the similarity
query family — the vector-index analogue of :mod:`.dedup_family`.

A production ANN deployment builds its indexes ONCE and queries them
many times; before round 6 every similarity query here re-derived its
index end-to-end per run, and the evaluation harnesses (s6 recall,
s12 graph recall) re-ran three or four whole index pipelines just to
join their outputs. This module deposits the deterministic RESULT
tables (every ANN operator ends in the same ``(qid, rk, cid,
cosine)`` contract, exact-int scored, so a parquet roundtrip is
bit-exact) through the impression store:

- ``exact20`` — brute-force cosine top-k over the nq=20 query cohort
  (the ground truth s6 and s12 both join against)
- ``lsh20`` / ``ivf20`` / ``pq20`` — the three index paths' top-k
  (s3 / s4 / s8 read these; s6 re-reads them instead of re-running
  the index builds)
- ``graph`` — the all-vectors kNN graph (s11; s12 re-reads it)

Addresses cover the embeddings table fingerprint (part-file
sizes/mtimes — the adaptive plane/probe parameters derive from its
row count, so they are covered transitively) plus the query
parameters; the family version covers the builder code (see
artifact_store.Family). Ordering is NOT part of a deposit (parquet
has no order): every consumer re-applies the operator's documented
``orderBy`` on read.
"""
from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .artifact_store import Family, table_fingerprint

FAMILY = Family("sim", "YUKI_SPARK_SIM_STORE", "r6-1")
COMPUTES = FAMILY.computes
# the builder lambdas live in queries/sim.py (e.g. s13's embedding
# slice), so its source is part of every address
_MODULES = (__name__, "yuki_spark.operators.similarity", "yuki_spark.queries.sim")


def result(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    params: dict[str, Any],
    builder: Callable[[], DataFrame],
) -> DataFrame:
    """Deposit-or-reuse one ANN result table for this corpus+params.
    Returns the UNORDERED deposit read — callers re-apply their
    operator's output ordering."""
    fp = table_fingerprint(sf_dir, "embeddings", {"params": params})
    df, _ = FAMILY.artifact(spark, name, [fp], builder, _MODULES)
    return df
