"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is executed to completion with a ``noop``-format write so
the full physical plan runs (scan → shuffle → agg) without driver-side
collect skew; a warm-up pass of the flagship query amortizes JVM/codegen
startup out of the numbers.
"""
from __future__ import annotations

import json
import os
import sys
import time

from yuki_spark.session import codegen_compiles, get_spark, launched_cds

# Headline set: EVERY queries() key (the r4 verdict flagged
# the 47 untimed queries as regression-invisible). Ordering interleaves
# the families; any key the entry exposes that is missing here is
# appended automatically in main(), so a new query can never silently
# drop out of the bench.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q21_waiting_suppliers",
    "q23_skyline_parts",
    "w1_top_customers_per_nation",
    "w2_running_revenue",
    "e2_sessionization",
    "e4_user_asof_value",
    "e5_funnel",
    "d1_exact_dedup",
    "d3_minhash_lsh_dups",
    "d6_quality_score",
    "d7_token_stats",
    "d9_embedding_neardup",
    "d10_winnow_fingerprint",
    "e8_error_window_stats",
    "e9_json_props_stats",
    "e13_zscore_outliers",
    "s1_cosine_topk",
    "s5_quantize_error",
    "d16_repetition",
    "d17_contamination",
    "d18_sequence_packing",
    "d19_tfidf_top_terms",
    "d2_ngram_jaccard_dups",
    "d4_simhash_dups",
    "m1_multimodal_meta",
    "d11_dedup_clusters",
    "d20_dedup_apply",
    "d21_corpus_split",
    "d24_weighted_sample",
    "s3_lsh_ann",
    "s4_ivf_ann",
    "s7_semdedup",
    "e7_value_percentiles_approx",
    "e12_heavy_hitters",
    "p1_pii_scan",
    "d26_quality_buckets",
    "e18_rolling_active_users",
    "e19_gap_fill",
    "e20_mad_outliers",
    "d27_bloom_contamination",
    "s8_pq_ann",
    "s9_kmeans_refine",
    "d28_token_zipf",
    "e21_cusum_drift",
    "d29_dsir_weights",
    "s10_cluster_balance",
    "dq1_constraint_report",
    "d30_oov_rate",
    "s11_knn_graph",
]


def _run(df) -> None:
    """Materialize the full plan without pulling rows to the driver."""
    df.write.mode("overwrite").format("noop").save()


def _guarded(fn, timeout_s: float) -> float | None:
    """Run ``fn()`` on a daemon thread with a wall-clock limit; return
    the elapsed seconds, or None on timeout (the fn's thread is left
    behind — py4j opens a fresh gateway connection per thread, so the
    NEXT key proceeds on its own connection).

    This is the in-harness watchdog for the known py4j hang (SURVEY
    §7.17): a run can freeze forever in a py4j response wait after
    benign accumulator ERRORs — JVM idle, driver in futex — and
    before r10 the only guard was an external ``timeout`` around the
    whole bench, which cost the driver its ENTIRE perf artifact. Now
    one hung key records a ``timed_out`` sentinel and the run
    completes. fn exceptions re-raise here (a broken query must still
    fail the bench loudly, not read as a hang)."""
    import threading  # noqa: PLC0415

    box: dict[str, object] = {}

    def work() -> None:
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            box["err"] = exc

    t0 = time.perf_counter()
    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(timeout_s)
    if th.is_alive():
        return None
    if "err" in box:
        raise box["err"]  # type: ignore[misc]
    return time.perf_counter() - t0


def _cancel_all_jobs(spark) -> None:
    """Best-effort job cancel after a key timed out — itself guarded
    (a truly hung gateway would hang the cancel call too)."""
    _guarded(lambda: spark.sparkContext.cancelAllJobs(), 10.0)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    # Controlled coldness: point every query-artifact family store at a
    # FRESH root so the one-time deposit-build cost is paid inside this
    # process — timed explicitly below as cold_build_s — instead of
    # depending on whatever /tmp state a previous run left behind. The
    # r7 verdict flagged the min-of-3 numbers as steady-state-only with
    # the cold cost buried in a prose note; now both are measured.
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    import __spark_entry__  # noqa: F401, PLC0415 — declares every store
    from yuki_spark.queries.artifact_store import FAMILIES  # noqa: PLC0415

    cold_root = tempfile.mkdtemp(prefix="yuki_spark-bench-cold-")
    for var in dict.fromkeys(f.env_var for f in FAMILIES):
        os.environ[var] = os.path.join(cold_root, var.lower())
    try:
        _main_body(sf_dir, sf)
    finally:
        # the fresh store must not outlive a FAILED run either — repeated
        # crashed benches would otherwise accumulate one full deposit
        # store per run in /tmp
        shutil.rmtree(cold_root, ignore_errors=True)


def _main_body(
    sf_dir: str, sf: float, qs=None, out_path: str | None = None
) -> dict:
    """Benchmark body. ``qs``/``out_path`` are injectable so the
    watchdog test can force a hang without touching the real query
    surface; production calls leave both None."""
    if qs is None:
        from __spark_entry__ import queries

        qs = queries()
    names = [n for n in HEADLINE if n in qs]
    names += [n for n in qs if n not in set(HEADLINE)]  # never drop a key

    t0 = time.perf_counter()
    spark = get_spark("yuki_spark_bench")
    spark.range(32).collect()  # the first job pays the JVM's class loading
    cds = launched_cds(spark)
    launch = {"s": round(time.perf_counter() - t0, 3), "archive": cds and cds[0]}
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up timeouts must be VISIBLE (r10 advice): a silently hung
    # warm-up leaves an orphaned job running beneath every measured
    # sample, skewing them invisibly. Record a sentinel row and cancel
    # the orphaned jobs so the artifact says the run was degraded.
    timed_out: dict[str, float] = {}

    def guarded_warmup(label: str, fn) -> None:
        if _guarded(fn, 300.0) is None:
            timed_out[label] = 300.0
            _cancel_all_jobs(spark)

    if "q1_pricing_summary" in qs:  # warm-up (JVM + codegen)
        guarded_warmup(
            "warmup_q1", lambda: _run(qs["q1_pricing_summary"](spark, sf_dir))
        )

    # warm the Python/Arrow worker pool so the first Pandas-UDF query
    # isn't charged the one-time worker fork + import cost
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    def _noop(s):
        return s

    guarded_warmup(
        "warmup_pandas_udf",
        lambda: _run(spark.range(32).select(pandas_udf(_noop, "long")("id"))),
    )

    # Cold phase: first run of each family's deposit-building consumers
    # against the fresh store — the measured one-time pipeline cost a
    # production corpus pays ONCE (tokenize/PPJoin/CC for dedup; the
    # exact/LSH/IVF/PQ result tables + kNN graph for sim). Every timed
    # pass below then reads deposits: steady-state, as documented.
    cold_keys = [
        "d3_minhash_lsh_dups",   # rep token sets + LSH bands
        "d11_dedup_clusters",    # exact J>=0.8 pairs + CC labels
        "d4_simhash_dups",       # simhash pair table
        "s6_ann_recall",         # exact/LSH/IVF/PQ result deposits
        "s11_knn_graph",         # all-vectors kNN graph deposit
        "s18_nn_descent",        # NN-descent refined-graph deposit
        "s19_ivfpq_ann",         # shortlist-independent IVF-ADC table
        "d44_bpe_tokens",        # tokenized-vocabulary deposit
        "d50_image_phash_dups",  # rep-grain PNG encode/decode + dHash pairs
        "s21_nn_descent_converge",  # second NN-descent generation deposit
        "s22_hnsw_ann",          # level-1 kNN graph deposit
        "s24_hnsw_multilevel",   # level-2 kNN graph deposit (3-level ladder)
        "d56_trigram_lm_perplexity",  # trigram-LM per-doc score deposit (r14)
        "d52_bigram_lm_perplexity",  # bigram-LM per-doc score deposit (r14 opt)
        "d57_bpe_train",         # learned-BPE merges deposit (r14 opt)
        "d58_learned_bpe_budget",  # learned-vocab apply deposit (r14 opt)
        "pl1_curation_pipeline",  # the composed DAG's report impression (r14)
        "d59_classifier_train",  # perceptron clf_curve/clf_w deposit (r14)
    ]
    key_timeout = float(os.environ.get("SPARK_GRAFT_BENCH_KEY_TIMEOUT_S", "180"))
    # Cascade guard (r10 advice): if a hung key was a cold deposit
    # build, the abandoned daemon thread can hold the artifact store's
    # per-thread RLock forever when cancelAllJobs fails to unstick the
    # py4j wait — every later deposit-consuming key then blocks on the
    # lock and burns key_timeout each, turning ONE hang into a
    # sentinel cascade that eats the whole remaining budget. After
    # this many CONSECUTIVE timeouts, stop launching keys and ship the
    # partial artifact (aborted_after names the cutoff) instead of
    # sentinel-ing the tail.
    cascade_limit = int(os.environ.get("SPARK_GRAFT_BENCH_CASCADE_LIMIT", "3"))
    consecutive_timeouts = 0
    aborted_after: str | None = None
    # generated classes each run compiled (codegen cache misses): the
    # cold-phase run, then one entry per timed pass
    compiles: dict[str, dict] = {}

    def guarded_key(name: str, cold: bool = False) -> float | None:
        """One compile+run of ``name`` under the watchdog; records the
        sentinel and cancels the orphaned jobs on timeout."""
        nonlocal consecutive_timeouts, aborted_after
        c0 = codegen_compiles(spark)
        dt = _guarded(lambda: _run(qs[name](spark, sf_dir)), key_timeout)
        if dt is None:
            if name not in timed_out:
                timed_out[name] = key_timeout
                _cancel_all_jobs(spark)
            consecutive_timeouts += 1
            if consecutive_timeouts >= cascade_limit and aborted_after is None:
                aborted_after = name
        else:
            consecutive_timeouts = 0
            row = compiles.setdefault(name, {"cold": None, "steady": []})
            n = codegen_compiles(spark) - c0
            if cold:
                row["cold"] = n
            else:
                row["steady"].append(n)
        return dt

    cold_build_s: dict[str, float] = {}
    for name in cold_keys:
        if aborted_after is not None:
            break  # cascade guard tripped: ship the partial artifact
        if name in qs:
            dt = guarded_key(name, cold=True)
            if dt is not None:
                cold_build_s[name] = round(dt, 3)

    # min of 3 runs per query (min = steady-state plan cost; the
    # per-query medians ride along so a noisy host is tellable from a
    # real regression without re-running — the r2 report burned a
    # session chasing four phantom regressions). Passes are
    # round-robin under a wall-clock budget: every query gets its
    # first run before any gets a second, so a slow host degrades
    # gracefully to fewer samples instead of a missing BENCH row.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "540"))
    t_start = time.perf_counter()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for rnd in range(runs):
        if aborted_after is not None:
            break  # cascade guard tripped: ship the partial artifact
        for name in names:
            if aborted_after is not None:
                break
            if rnd > 0 and time.perf_counter() - t_start > budget_s:
                break
            if name in timed_out:
                continue  # a hung key stays skipped; its row is the sentinel
            dt = guarded_key(name)
            if dt is not None:
                samples[name].append(dt)
            else:
                # queries/timed_out must be DISJOINT (r10 advice): a
                # key that hangs after earlier successful samples
                # would otherwise appear in both, and its kept samples
                # would read as a healthy row beside its sentinel
                samples[name] = []
    per_query: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in names:
        times = sorted(samples[name])
        if not times:
            continue  # timed out before any sample: sentinel-only row
        n = len(times)
        # true median (avg of middles when even) — taking the upper
        # middle would report the WORSE of 2 samples on exactly the
        # budget-truncated hosts the medians are meant to de-noise
        med = times[n // 2] if n % 2 else (times[n // 2 - 1] + times[n // 2]) / 2
        per_query[name] = round(times[0], 3)
        medians[name] = round(med, 3)

    total = round(sum(per_query.values()), 3)
    # r14-verdict observability items (additions-only): the scaling
    # block could not tell whether $SPARK_GRAFT_CPUS was honored
    # (it is — session.py builds local[$SPARK_GRAFT_CPUS]), and the
    # timed/untimed split was only inferable by summing cold_build_s
    # by hand. Print both so the driver artifact answers directly.
    default_parallelism = spark.sparkContext.defaultParallelism
    total_with_cold = round(total + sum(cold_build_s.values()), 3)
    report = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "default_parallelism": default_parallelism,
        "total_with_cold": total_with_cold,
        "queries": per_query,
        "medians": medians,
        "cold_build_s": cold_build_s,
        # file only (the stdout line has no room): per key, the classes
        # its cold-phase run (null: no cold run) and each timed pass
        # compiled — a steady pass above 0 is recompiling evicted code
        "codegen_compiles": compiles,
        # file only: seconds from get_spark to the end of the first job
        # (a new driver JVM), and the class-data-sharing option it was
        # launched with (SharedArchiveFile: mapped the archive;
        # ArchiveClassesAtExit: recorded it; null: launched without)
        "launch": launch,
        # watchdog sentinels: keys whose run exceeded the per-key
        # timeout (the py4j-hang guard) — excluded from queries/value
        # so one hung key can't pollute the totals (samples taken
        # before a later hang are dropped too: the two sets are
        # disjoint), named here so the artifact stays complete and
        # the hang is VISIBLE. warmup_* entries mean a warm-up hung
        # and the measured samples may ride above an orphaned job.
        "timed_out": timed_out,
        # cascade guard: non-null means >= cascade_limit consecutive
        # timeouts tripped the abort (likely an orphaned deposit-build
        # thread holding the artifact-store RLock) and every key after
        # this one was skipped — the artifact is deliberately partial
        "aborted_after": aborted_after,
        "sf": sf,
        # round-over-round context: r5 un-capped the near-dup queries
        # to the full corpus; since r6 the dedup family (d2/d3/d11/d20/
        # d33) and the sim family (s3/s4/s8/s11 + recall harnesses)
        # consume content-addressed artifact pipelines persisted
        # through the impression store. This run built them COLD
        # against a fresh store root; cold_build_s is that measured
        # one-time cost, and the per-query numbers are the deposit-
        # reading steady state (min over rounds), as for every query.
        "notes": (
            "cold_build_s = one-time family deposit builds against a "
            "fresh store (paid once per corpus in production); "
            "queries/medians are deposit-reading steady state"
        ),
    }
    # Also persist the full report: the driver captures stdout through a
    # bounded tail window, and BENCH_r03 lost the suite total plus the
    # first ~14 per-query mins to that truncation. The on-disk copy is
    # the canonical artifact; the stdout line stays for the driver.
    if out_path is None:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_results.json"
        )
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    # The driver records stdout through a 2000-char tail window
    # (measured from BENCH_r05.json), so r5's full line truncated and
    # `parsed` came back null. 110 full key names alone exceed 2000
    # chars, so the stdout line CANNOT carry every query; it carries
    # the contract keys plus as many per-query entries as fit —
    # slowest first, so everything perf-interesting survives — with an
    # explicit omitted-count pointing at bench_results.json (the
    # committed full-precision artifact with all keys + medians).
    cold_json = json.dumps(cold_build_s, separators=(",", ":"))
    to_json = json.dumps(timed_out, separators=(",", ":"))
    ab_json = json.dumps(aborted_after)
    head = (
        f'{{"metric":"{report["metric"]}","value":{total},"unit":"sec","sf":{sf},'
        f'"default_parallelism":{default_parallelism},'
        f'"total_with_cold":{total_with_cold},'
        f'"cold_build_s":{cold_json},"timed_out":{to_json},'
        f'"aborted_after":{ab_json},'
    )
    budget = 1850 - len(head) - len(
        '"queries":{},"omitted":999,"full":"bench_results.json"}'
    )
    parts: list[str] = []
    used = 0
    by_cost = sorted(per_query, key=per_query.get, reverse=True)
    for name in by_cost:
        ent = f'"{name}":{round(per_query[name], 2)}'
        if used + len(ent) + 1 > budget:
            break
        parts.append(ent)
        used += len(ent) + 1
    omitted = len(per_query) - len(parts)
    line = (
        head
        + '"queries":{' + ",".join(parts) + "},"
        + f'"omitted":{omitted},"full":"bench_results.json"}}'
    )
    print(line)
    json.loads(line)  # malformed stdout must fail HERE, not at the driver
    return report


if __name__ == "__main__":
    sys.exit(main())
