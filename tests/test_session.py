"""The session factory: the generated-class cache holds a repeated
workload, so its second run compiles nothing."""
from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yuki_spark.session import codegen_compiles


def _branches(spark, n: int) -> None:
    """One job over a union of ``n`` one-row ranges, branch ``k``
    adding ``k``: each branch is its own codegen stage, and the
    constant is inlined into its source, so no two branches share a
    generated class."""
    reduce(
        DataFrame.unionAll,
        [spark.range(0, 1, 1, 1).select((F.col("id") + k).alias("v")) for k in range(n)],
    ).collect()


def test_second_run_of_a_150_branch_workload_compiles_nothing(spark):
    before = codegen_compiles(spark)
    _branches(spark, 150)
    first = codegen_compiles(spark) - before
    assert first >= 150, first  # more than Spark's default cache of 100
    _branches(spark, 150)
    assert codegen_compiles(spark) - before - first == 0
