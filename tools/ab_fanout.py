"""Driver-grade A/B of the scan fan-out for one query key.

Usage: python tools/ab_fanout.py <key> on|off [sf_dir]

Runs ONE variant in a fresh process (cold JVM — the driver's own
measurement condition), replicating bench.py's methodology exactly:
fresh artifact-store roots (cold builds paid in-process), the q1 +
pandas-UDF warm-ups, then the key's first (cold) run followed by
min-of-3 steady-state noop runs. Prints one JSON line.

``off`` disables catalog._fan_out process-wide (identity), so the
same key body runs on the direct scan — the r14-verdict item-3
protocol for settling the contested per-key opt-ins (gsets, d50,
d44, d35, d42, d10): keep an opt-in only where ON reproduces the win
on cold min-of-3 numbers, revert it otherwise.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    key, variant = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    assert variant in ("on", "off")

    import yuki_spark.catalog as cat
    from yuki_spark.queries.artifact_store import FAMILIES

    from __spark_entry__ import queries  # declares every store

    cold_root = tempfile.mkdtemp(prefix="yuki_spark-ab-cold-")
    for var in dict.fromkeys(f.env_var for f in FAMILIES):
        os.environ[var] = os.path.join(cold_root, var.lower())

    if variant == "off":
        cat._fan_out = lambda spark, df, path, name: df  # type: ignore[assignment]

    from yuki_spark.session import get_spark

    qs = queries()
    spark = get_spark(f"ab_fanout_{key}_{variant}")
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    run(qs["q1_pricing_summary"])  # JVM/codegen warm-up (bench parity)
    from pyspark.sql.functions import pandas_udf

    spark.range(32).select(
        pandas_udf(lambda s: s, "long")("id")
    ).write.mode("overwrite").format("noop").save()

    cold = run(qs[key])
    steady = [run(qs[key]) for _ in range(3)]
    print(
        json.dumps(
            {
                "key": key,
                "variant": variant,
                "cold_s": round(cold, 3),
                "steady_min_s": round(min(steady), 3),
                "steady_all_s": [round(t, 3) for t in steady],
            }
        )
    )
    import shutil

    shutil.rmtree(cold_root, ignore_errors=True)


if __name__ == "__main__":
    main()
