"""Regenerate ``references.json``: the canonical row digest of every
timed key on the benchmark catalog.

    python3 perfbench/make_references.py

Each key runs twice (cold store, then warm store) and must give the
same digest both times. Each key with a DuckDB twin in
``oracle_sql()`` is then compared row for row against the twin with
``yuki_spark.compare.compare``; a key whose twin disagrees, or that
does not repeat, gets no reference and the script exits non-zero.
"""
from __future__ import annotations

import json
import os
import shutil
import sys

import run
import workloads as wl

TWIN_TIMEOUT_S = 300.0


def main() -> int:
    scratch = os.path.join(run.CACHE, f"refs{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    run.configure_env(scratch)
    sys.path.insert(0, run.ROOT)
    if not os.path.isdir(run.CATALOG):
        datagen_out = f"{run.CATALOG}.tmp{os.getpid()}"
        run.datagen.write_catalog(datagen_out, run.SCALE, run.DATA_SEED)
        os.rename(datagen_out, run.CATALOG)
    run.set_stores(os.path.join(scratch, "store"))
    # the adaptive twins size their parameters from this catalog
    os.environ["YUKI_SPARK_TEST_SF"] = run.CATALOG

    from yuki_spark.compare import compare
    from yuki_spark.session import get_spark

    from __spark_entry__ import oracle_sql, queries

    spark = get_spark("perfbench-references")
    spark.sparkContext.setLogLevel("ERROR")
    qs, twins = queries(), oracle_sql()
    keys = wl.RELATIONAL + wl.timed_keys("corpus")
    digests: dict[str, str] = {}
    problems: list[str] = []
    try:
        for key in keys:
            seen = set()
            for _ in range(2):
                df = qs[key](spark, run.CATALOG)
                seen.add(run.digest(df.columns, df.collect()))
            if len(seen) != 1:
                problems.append(f"{key}: digest differs between runs")
                continue
            if key in twins:
                out, err = run.guarded(
                    lambda k=key: compare(spark, qs[k], twins[k], run.CATALOG),
                    TWIN_TIMEOUT_S,
                )
                if err is not None or out:
                    problems.append(f"{key}: twin check: {err or out[:2]}")
                    continue
            digests[key] = seen.pop()
            print(f"{key} {digests[key]}", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(run.HERE, "references.json"), "w") as f:
        json.dump(
            {"scale": run.SCALE, "data_seed": run.DATA_SEED, "digests": digests},
            f, indent=1, sort_keys=True,
        )
        f.write("\n")
    for p in problems:
        print(f"PROBLEM {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
