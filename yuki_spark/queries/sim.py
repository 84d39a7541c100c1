"""Similarity-search queries over the embeddings table (SURVEY §2.3)."""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, table_rows
from ..operators import similarity
from . import sim_family

K = 3
N_QUERIES = 5
ANN_NQ = 20  # query cohort shared by the index paths + recall harnesses

# the driver's correctness gate runs at sf0.01; the adaptive LSH
# parameters in the ORACLE twins are derived from that catalog's
# footer count, and the Spark queries derive theirs from the actual
# sf_dir — identical at the gate, scale-adaptive everywhere else.
# The env is read at CALL time (build_oracle/_oracle_sf), not baked at
# import, so a gate run at another scale only needs the env var set
# before oracle_sql() is invoked.
def _oracle_sf() -> str:
    return os.environ.get("YUKI_SPARK_TEST_SF", "/root/testdata/sf0.01")


def _emb_rows(sf_dir: str) -> int | None:
    try:
        return table_rows(sf_dir, "embeddings")
    except Exception:
        return None  # operators fall back to a count() job


def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, k=K, n_queries=N_QUERIES)


def s2_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb)


def _exact20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deposit-backed brute-force top-k over the shared nq=20 cohort —
    the ground truth both recall harnesses (s6/s12) join against."""
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "exact20",
        {"k": K, "nq": ANN_NQ},
        lambda: similarity.cosine_topk(emb, k=K, n_queries=ANN_NQ),
    )


def _lsh20(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "lsh20",
        {"k": K, "nq": ANN_NQ},
        lambda: similarity.lsh_ann(
            emb, k=K, n_queries=ANN_NQ, n_est=_emb_rows(sf_dir)
        ),
    )


def _ivf20(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "ivf20",
        {"k": K, "nq": ANN_NQ, "nprobe": 3},
        lambda: similarity.ivf_ann(emb, k=K, n_queries=ANN_NQ, nprobe=3),
    )


def _pq20(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "pq20",
        {"k": K, "nq": ANN_NQ},
        lambda: similarity.pq_ann(
            emb, k=K, n_queries=ANN_NQ, n_est=_emb_rows(sf_dir)
        ),
    )


def _graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "graph",
        {"k": K},
        lambda: similarity.knn_graph(emb, k=K, n_est=_emb_rows(sf_dir)),
    )


def _graph_nnd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s11 graph after one NN-descent refinement round — its own
    deposit (a graph-ANN build persists each refinement generation;
    consumers read the freshest one)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "graph_nnd",
        {"k": K, "round": 1},
        lambda: similarity.nn_descent_round(emb, _graph(spark, sf_dir), k=K),
    )


# HNSW ladder geometry (s22/s23): deterministic nested levels by
# vec_id modulus; the beam is the search-time ef parameter, and the
# sweep is the recall-vs-beam tuning curve (s20's discipline for the
# layered-descent family).
HNSW_L1_MOD = 4
HNSW_L2_MOD = 16
HNSW_L3_MOD = 64  # entry modulus of the 3-level ladder (s24)
HNSW_BEAM = 4
HNSW_BEAM_SWEEP = (2, 4, 8)


def _lvl_count(n: int, mod: int) -> int:
    """Member count of the vec_id % mod == 0 level from the corpus row
    count (vec_ids are dense 0..n-1): ceil(n / mod) — the SAME formula
    in the Spark deposit and the oracle twin, so both derive the
    identical adaptive plane count for each level graph."""
    return (n + mod - 1) // mod


def _graph_level(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """Level kNN graph deposit for one ladder modulus: the s11 bucket
    machinery over the vec_id % mod == 0 member set (plane count
    adaptive to the LEVEL size, not the corpus size). The deposit name
    encodes the rung index (graph_l1 = mod 4, graph_l2 = mod 16, …) so
    the fixed s22/s24 ladders and the formula-derived s26 ladder SHARE
    deposits whenever their moduli coincide — one build serves both.
    An unreadable catalog footer propagates None so knn_graph falls
    back to counting the FILTERED member frame — never a made-up n
    (the r9 review caught a fallback-to-1 here, which would have
    pinned the graph at the minimum plane count and gone
    near-quadratic at scale)."""
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % mod == 0)
    n = _emb_rows(sf_dir)
    lvl = (mod.bit_length() - 1) // 2  # mod = branching^lvl, branching = 4
    return sim_family.result(
        spark,
        sf_dir,
        f"graph_l{lvl}",
        {"k": K, "mod": mod},
        lambda: similarity.knn_graph(
            emb, k=K, n_est=None if n is None else _lvl_count(n, mod)
        ),
    )


def _graph_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_level(spark, sf_dir, HNSW_L1_MOD)


def _graph_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-2 rung (s24's 3-level ladder): one more rung built
    exactly like graph_l1, which is the point — every added level is
    the same bounded per-level plan (the log(n) ladder claim made
    executable)."""
    return _graph_level(spark, sf_dir, HNSW_L2_MOD)


def _graph_nnd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second NN-descent generation: one more neighbor-of-neighbor
    round over the round-1 deposit (each generation is its own
    persisted artifact, exactly like graph_nnd)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "graph_nnd2",
        {"k": K, "round": 2},
        lambda: similarity.nn_descent_round(
            emb, _graph_nnd(spark, sf_dir), k=K
        ),
    )


def s3_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN; since r6 the result table is a
    SHARED deposit (queries/sim_family.py — an index is built once
    and queried many times; s6's recall row re-reads this instead of
    re-running the index build). Bit-identical to the direct
    ``similarity.lsh_ann`` run."""
    return _lsh20(spark, sf_dir).orderBy("qid", "rk")


NEARDUP_THRESHOLD = 0.35


def d9_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(
        emb, threshold=NEARDUP_THRESHOLD, n_est=_emb_rows(sf_dir)
    )


def s4_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (coarse cells + nprobe). Deterministic by
    construction (exact int64 centroid sums, seeded assignment), so
    the DuckDB twin reproduces it bit-for-bit. Deposit-backed since
    r6 (sim_family)."""
    return _ivf20(spark, sf_dir).orderBy("qid", "rk")


def s8_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 32-bit codes + exact-int ADC shortlist
    + exact re-rank (operators/similarity.py::pq_ann). Deterministic
    end-to-end (sign-cell codes, int64 codebook sums, int64 LUT
    scores), so the DuckDB twin reproduces it bit-for-bit.
    Deposit-backed since r6 (sim_family)."""
    return _pq20(spark, sf_dir).orderBy("qid", "rk")


def s19_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC, the FAISS-IVFPQ production composition
    (operators/similarity.py::ivfpq_ann): the coarse quantizer prunes
    to nprobe probed cells, ONLY those cells' members are ADC-scored
    from 32-bit PQ codes, then the shortlist is exactly re-ranked —
    s4's cell pruning and s8's code-resident scan stacked, which is
    what SURVEY's s8 row names as the 100 TB shape ("stack s4's IVF
    cell pruning in front"). Deterministic end-to-end (exact-int
    centroid sums, int64 codebook/ADC, exact re-rank), so the composed
    DuckDB twin reproduces every row; backed by the shared
    shortlist-independent ADC deposit (sim_family ``ivfpq_adc20``) —
    the cut + re-rank run on read, s20's sweep shares the same
    artifact."""
    return _ivfpq_sl(spark, sf_dir, similarity.PQ_SHORTLIST).orderBy(
        "qid", "rk"
    )


PQ_SL_SWEEP = (4, 8, 12)  # ADC shortlist budgets on the recall curve


def _ivfpq_adc20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shortlist-INDEPENDENT IVF-ADC score table as ONE deposit —
    s19 and every s20 sweep point derive their cut from this single
    artifact (the coarse quantizer + codebook + ADC scan run once per
    corpus, not once per budget; the r8 review flagged the
    per-budget-rebuild form)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "ivfpq_adc20",
        {"nq": ANN_NQ, "nprobe": 3},
        lambda: similarity.ivfpq_adc(
            emb, n_queries=ANN_NQ, nprobe=3, n_est=_emb_rows(sf_dir)
        ),
    )


def _ivfpq_sl(spark: SparkSession, sf_dir: str, sl: int) -> DataFrame:
    """IVF-ADC result at one shortlist budget: the shared ADC deposit
    cut + exact-re-ranked on the fly (the cut costs shortlist-sized
    joins — nothing worth a second artifact per budget)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.pq_rerank_from(
        _ivfpq_adc20(spark, sf_dir), emb, k=K, shortlist=sl
    )


def s20_pq_shortlist_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cost tuning curve for the IVF-ADC shortlist: recall@k
    against exact brute force at each ADC shortlist budget in
    ``PQ_SL_SWEEP`` — s17's discipline applied to the PQ knob (how
    many code-scored candidates get the expensive full-vector
    re-rank). With k = K, recall is non-decreasing in the shortlist:
    widening it re-ranks a superset, and any candidate that evicts a
    true top-K neighbor under the shared (cosine desc, cid) order is
    itself a true top-K neighbor.

    Scale shape: each point is a deposit-backed result-table read
    (the production budget shares s19's deposit) joined against the
    deposited exact truth on (qid, cid) — tiny joins; index builds
    happen at most once per corpus via the store."""
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    return _recall_curve(
        exact,
        "shortlist",
        [(sl, _ivfpq_sl(spark, sf_dir, sl)) for sl in PQ_SL_SWEEP],
    )


def s9_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-round Lloyd's k-means fit over the embeddings
    (operators/similarity.py::kmeans_refine) — exact-int centroid
    sums, double-fold affinities, so the DuckDB twin reproduces every
    assignment bit-for-bit. Deposit-backed since r6 (sim_family — a
    fit is a persisted model: s10's balancing reads it instead of
    re-running both Lloyd rounds)."""
    return _kmeans_fit(spark, sf_dir).orderBy("vec_id")


def _kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "kmeans",
        {"k": similarity.KMEANS_K, "rounds": similarity.KMEANS_ROUNDS},
        lambda: similarity.kmeans_refine(emb),
    )


BALANCE_BUDGET = 200  # selection budget for the balanced subset


def s10_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subset selection (topic balancing): cap every
    k-means cluster at an equal share of the selection budget and fill
    each cluster's quota in portable-hash order — the de-skewing step
    a pretraining mix runs after clustering (over-represented topics
    are capped; rare topics survive whole). Composes the s9 fit with
    d25's deterministic quota-fill machinery.

    Quota rule: budget div k_active per cluster, capped at the
    cluster's own size (one-shot cap, no iterative water-filling —
    the under-fill is the point: it is the mass removed from
    over-represented clusters). Fill order is the Knuth multiplicative
    hash of vec_id (sampling.bucket), vec_id tiebreak — deterministic
    in any engine.

    Scale shape: the fit is s9's (broadcast centroids, map-side
    assignment); the balance adds one single-row broadcast (k_active)
    and one row_number window per cell on the already-cell-partitioned
    fit — no extra corpus shuffle beyond the fit's own."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators import sampling

    # the fit comes from the SHARED deposit (sim_family "kmeans" — the
    # same persisted model s9 serves), already materialized: both
    # consumers below read parquet, no checkpoint needed
    fit = _kmeans_fit(spark, sf_dir).select("vec_id", "cell", "cluster_size")
    kact = fit.agg(F.countDistinct("cell").alias("k_active"))
    w = Window.partitionBy("cell").orderBy(sampling.bucket("vec_id"), "vec_id")
    return (
        fit.join(F.broadcast(kact))
        .withColumn(
            "quota",
            F.least(
                F.col("cluster_size"),
                F.expr(f"{BALANCE_BUDGET} div k_active").cast("bigint"),
            ),
        )
        .withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("pick_rank") <= F.col("quota"))
        .select("vec_id", "cell", "cluster_size", "quota", "pick_rank")
        .orderBy("vec_id")
    )


def s11_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the whole embedding corpus
    (operators/similarity.py::knn_graph): every vector's top-K bucket
    neighbors — the precursor artifact for graph-ANN builds. Adaptive
    plane count from the catalog footer, exact-int scoring, so the
    all-vectors twin (s3's SQL minus the query filter) binds
    bit-for-bit. Deposit-backed since r6 (sim_family — the graph IS
    the persisted precursor artifact a graph-ANN build consumes; s12
    re-reads it instead of re-running the build)."""
    return _graph(spark, sf_dir).orderBy("qid", "rk")


def s5_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization error per label, exact integer accounting
    (operators/similarity.py::quantize_error)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.quantize_error(emb).orderBy("label")


def s6_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the approximate indexes against exact brute force —
    the evaluation loop any ANN deployment runs before trusting the
    scale path. Both indexes are engine-deterministic (seeded ±1
    hyperplanes, exact int64 centroids), so the composed DuckDB twin
    reproduces the recall numbers exactly.

    Since r6 the harness reads the SHARED result deposits
    (sim_family: exact20/lsh20/ivf20/pq20 — the same tables
    s3/s4/s8 serve) instead of re-running three whole index builds;
    outputs are unchanged (each deposit is the bit-exact result of
    the direct operator run). The four deposit accessors run from a
    thread pool (guide §2.6 — concurrent independent jobs): on a
    cold store each build's bounded jobs leave most of the cluster
    idle, so overlapping the four independent index passes cuts the
    one-time build wall-clock roughly in half (the artifact store's
    per-address build locks serialize same-address builds only); on
    a warm store the threads are four concurrent deposit reads —
    each accessor is self-contained (own embeddings load, own plan),
    no shared lazy checkpoint to first-touch-race."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = {
            name: ex.submit(fn, spark, sf_dir)
            for name, fn in (
                ("exact", _exact20),
                ("ivf", _ivf20),
                ("lsh", _lsh20),
                ("pq", _pq20),
            )
        }
        got = {name: f.result() for name, f in futs.items()}
    exact = got["exact"].select("qid", "cid")
    return _recall_curve(
        exact, "index", [(name, got[name]) for name in ("ivf", "lsh", "pq")]
    )


def _recall_curve(exact: DataFrame, label: str, points) -> DataFrame:
    """One recall row per operating point: for each ``(value, approx)``
    in ``points``, the hits of ``approx``'s (qid, cid) rows against the
    exact top-K, labelled ``label`` = value (a bigint for a numeric
    knob), then the cohort's n_possible = ANN_NQ·K and recall, ordered
    by the label — s6's per-index table and the s17/s20/s23 sweeps."""
    possible = ANN_NQ * K
    curve: DataFrame | None = None
    for value, approx in points:
        lit = F.lit(value)
        if not isinstance(value, str):
            lit = lit.cast("bigint")
        row = (
            approx.select("qid", "cid")
            .join(exact, ["qid", "cid"])
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(lit.alias(label), "n_hits")
        )
        curve = row if curve is None else curve.unionByName(row)
    return curve.select(
        label,
        "n_hits",
        F.lit(possible).cast("bigint").alias("n_possible"),
        (F.col("n_hits").cast("double") / F.lit(float(possible))).alias("recall"),
    ).orderBy(label)


IVF_SWEEP = (1, 2, 3)  # probe budgets on the recall-vs-cost curve


def _ivf_np(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF result table at one probe budget — the nprobe=3 point IS
    the shared ``ivf20`` deposit (identical name+params address), so
    s4/s6 and the sweep never build that index twice."""
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "ivf20",
        {"k": K, "nq": ANN_NQ, "nprobe": nprobe},
        lambda: similarity.ivf_ann(emb, k=K, n_queries=ANN_NQ, nprobe=nprobe),
    )


def s17_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cost tuning curve for the IVF index: recall@k against
    exact brute force at each probe budget in ``IVF_SWEEP`` — the
    sensitivity audit an ANN deployment runs to pick nprobe (d38 is
    the same idea for dedup thresholds; s6 scores one operating point
    per index, this scores the IVF knob). Every point is deterministic
    (exact int64 centroids, seeded assignment — see ivf_ann), so the
    composed DuckDB twin reproduces the whole curve exactly; recall
    must be non-decreasing in nprobe by construction (probing more
    cells only adds candidates).

    Scale shape: each point is a deposit-backed result-table read
    (nprobe=3 shares s4's deposit) joined against the deposited exact
    ground truth on (qid, cid) — three tiny joins over nq*k rows; the
    index builds happen at most once per corpus via the store."""
    from concurrent.futures import ThreadPoolExecutor

    # the sweep's non-shared points (nprobe=1,2; nprobe=3 is s4/s6's
    # deposit) build serially on a cold store — overlap the
    # independent index builds exactly like s6 (guide §2.6; the
    # per-address build locks make concurrent distinct-address
    # builds real). Warm stores: three concurrent deposit reads.
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    with ThreadPoolExecutor(max_workers=len(IVF_SWEEP)) as ex:
        futs = [(np_, ex.submit(_ivf_np, spark, sf_dir, np_)) for np_ in IVF_SWEEP]
        points = [(np_, f.result()) for np_, f in futs]
    return _recall_curve(exact, "nprobe", points)


def s12_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of s11's approximate kNN GRAPH against brute-force truth
    — the missing recall row the r5 verdict flagged (s6 scores
    lsh/ivf/pq but not the graph path, leaving graph quality asserted
    only structurally). Per-vector recall@k over the same nq=20 query
    cohort as s6: for each query vector, how many of its K true
    nearest neighbors appear among its graph edges. Per-vector rows
    (not one aggregate) so the oracle binds WHICH vectors lose
    neighbors, not just the average; the suite-level average is
    sum(n_hits)/(nq·K) by construction. Deterministic end-to-end
    (same exact-int machinery as s3/s11), so the DuckDB twin
    reproduces every count. Since r6 both inputs are SHARED deposits
    (sim_family: exact20 + the s11 graph), so the harness joins two
    persisted tables instead of re-running the graph build and the
    brute-force pass."""
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    g = _graph(spark, sf_dir).where(F.col("qid") < ANN_NQ).select("qid", "cid")
    return _per_vec_recall(exact, g)


def s18_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-descent graph refinement evaluated at equal candidate
    budget: one neighbor-of-neighbor round over the s11 graph deposit
    (operators/similarity.py::nn_descent_round — k² graph self-join +
    exact-int re-rank, NO extra bucket probing), scored per query
    vector against brute-force truth beside the one-shot graph's
    hits. Per-vector rows bind base and refined hit counts in the
    same row, so the oracle verifies the improvement itself — and
    refined ≥ base holds by construction (the candidate set is a
    superset of the current edges under the same tiebreak order;
    pinned in tests at full-graph grain).

    Scale shape: the refinement is O(n·k²) candidate rows over the
    deposited edge table (tiny next to the corpus) with keyed joins
    only; this harness then joins three persisted tables (exact20,
    graph, graph_nnd) over the nq cohort."""
    from pyspark.sql import functions as F

    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    base = _graph(spark, sf_dir).where(F.col("qid") < nq).select("qid", "cid")
    ref = _graph_nnd(spark, sf_dir).where(F.col("qid") < nq).select("qid", "cid")
    bh = exact.join(base, ["qid", "cid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("bh")
    )
    rh = exact.join(ref, ["qid", "cid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("rh")
    )
    # nq-bounded aggregates behind stat-less chains: broadcast the
    # coverage sides (see _per_vec_recall)
    return (
        exact.select("qid")
        .distinct()
        .join(F.broadcast(bh), "qid", "left")
        .join(F.broadcast(rh), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("bh"), F.lit(0)).cast("bigint").alias("base_hits"),
            F.coalesce(F.col("rh"), F.lit(0)).cast("bigint").alias("refined_hits"),
            F.lit(K).cast("bigint").alias("n_possible"),
            (
                F.coalesce(F.col("rh"), F.lit(0)).cast("double")
                / F.lit(float(K))
            ).alias("refined_recall"),
        )
        .orderBy("qid")
    )


def s21_nn_descent_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-descent iterated to its standard termination (Dong et al.,
    WWW 2011): run neighbor-of-neighbor refinement rounds and stop
    when a round changes no edges. One row per EXECUTED round with
    the convergence evidence a graph-ANN build monitors: recall vs
    brute-force truth over the shared nq=20 cohort, the recall delta
    against the previous generation, the number of edges the round
    actually changed (full-graph grain, not just the cohort), and
    the converged flag. Round 2 is reported only if round 1 changed
    edges — the declarative form of the early-stop loop, identical
    in both engines, so the oracle verifies the termination rule
    itself; since r10 a converged round 1 also skips BUILDING the
    round-2 generation (a bounded scalar check against the edge
    deposits), not just reporting it. Recall is non-decreasing by
    construction (each round's
    candidate set is a superset of the current edges under the same
    (cosine desc, cid) tiebreak; pinned in tests).

    Scale shape: generations are sim_family deposits (graph →
    graph_nnd → graph_nnd2; each build is the O(n·k²) keyed-join
    round of operators/similarity.py::nn_descent_round, audited at
    10× in tools/stress.py); this harness then runs three cohort
    hit-joins and two full-graph anti-joins — all equi-keyed over
    n·k-row edge tables, followed by scalar aggregates. Nothing
    corpus-sized is broadcast or windowed."""
    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    g0 = _graph(spark, sf_dir).select("qid", "cid")
    g1 = _graph_nnd(spark, sf_dir).select("qid", "cid")
    # early-stop BEFORE paying for generation 2 (r10, r9-ADVICE): the
    # declarative round-filter below prunes only the round-2 ROW, not
    # the O(n·k²) round-2 BUILD — so check the round-1 edges_changed
    # scalar first (one bounded limit(1) action over the n·k edge
    # deposits) and skip the graph_nnd2 build entirely when round 1
    # already converged. Reported output is identical either way (a
    # converged round 1 is the last row in both forms).
    gens = [g0, g1]
    if g1.join(g0, ["qid", "cid"], "left_anti").limit(1).count() > 0:
        gens.append(_graph_nnd2(spark, sf_dir).select("qid", "cid"))

    def hit_row(g: DataFrame, r: int) -> DataFrame:
        return (
            exact.join(g.where(F.col("qid") < nq), ["qid", "cid"])
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
            .select(F.lit(r).cast("bigint").alias("round"), "n_hits")
        )

    def ec_row(g_new: DataFrame, g_old: DataFrame, r: int) -> DataFrame:
        return (
            g_new.join(g_old, ["qid", "cid"], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("edges_changed"))
            .select(F.lit(r).cast("bigint").alias("round"), "edges_changed")
        )

    hits = hit_row(gens[0], 0)
    for r in range(1, len(gens)):
        hits = hits.unionByName(hit_row(gens[r], r))
    ecs = ec_row(gens[1], gens[0], 1)
    for r in range(2, len(gens)):
        ecs = ecs.unionByName(ec_row(gens[r], gens[r - 1], r))
    prev = hits.select(
        (F.col("round") + 1).alias("round"),
        F.col("n_hits").alias("prev_hits"),
    )
    prev_ec = ecs.select(
        (F.col("round") + 1).alias("round"),
        F.col("edges_changed").alias("prev_changed"),
    )
    # one-row-per-round tables (≤ len(gens) rows) behind stat-less
    # unions: broadcast the join sides (see _per_vec_recall)
    return (
        hits.where(F.col("round") >= 1)
        .join(F.broadcast(prev), "round")
        .join(F.broadcast(ecs), "round")
        .join(F.broadcast(prev_ec), "round", "left")
        .where((F.col("round") == 1) | (F.col("prev_changed") > 0))
        .select(
            "round",
            "n_hits",
            F.lit(nq * K).cast("bigint").alias("n_possible"),
            (F.col("n_hits").cast("double") / F.lit(float(nq * K))).alias(
                "recall"
            ),
            (F.col("n_hits") - F.col("prev_hits")).alias("hits_delta"),
            "edges_changed",
            (F.col("edges_changed") == 0).alias("converged"),
        )
        .orderBy("round")
    )


def s22_hnsw_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (HNSW-shape) layered-descent ANN evaluated per
    query vector against brute-force truth — the graph-search frontier
    the r8 verdict listed as the one missing ANN family. The ladder:
    entry beam from an exact scan of the tiny level-2 member set,
    greedy re-rank descents through the level-1 graph deposit
    (graph_l1) and — since r10 — the CONVERGED level-0 graph deposit
    (graph_nnd2: the production build order is build → refine →
    serve, so the descent reads the strictly-better NN-descent
    generation s21 left behind, not the raw s11 seed graph;
    operators/similarity.py::hnsw_descent). Per-vector recall rows
    (s12's reporting grain) so the oracle binds WHICH vectors lose
    neighbors; final-beam quality pointwise dominates the entry beam
    by the superset-re-rank argument (pinned in tests)."""
    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    emb = load(spark, sf_dir, "embeddings")
    res = similarity.hnsw_descent(
        emb,
        [_graph_l1(spark, sf_dir), _graph_nnd2(spark, sf_dir)],
        k=K,
        n_queries=nq,
        beam=HNSW_BEAM,
        entry_mod=HNSW_L2_MOD,
    ).select("qid", "cid")
    return _per_vec_recall(exact, res)


def _per_vec_recall(exact: DataFrame, res: DataFrame) -> DataFrame:
    """Per-query-vector recall@K of ``res`` against the exact truth —
    the reporting tail of s12, s13, s22, s24, s25 and s26 (the oracle
    binds WHICH vectors lose neighbors).

    The coverage join's right side is an nq-bounded aggregate (≤ one
    row per query vector at ANY corpus scale) sitting above
    checkpointed descent chains whose size statistics Catalyst cannot
    see — without the hint the planner falls back to SortMergeJoin
    and every recall tail pays an Exchange+Sort pair per side
    (guide §3.1: hint when the estimate is known-wrong; r15 —
    measured 2 SMJ in s22/s24's plans, 64 across s29's cells)."""
    inter = exact.join(res, ["qid", "cid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(F.broadcast(inter), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.lit(K).cast("bigint").alias("n_possible"),
            (
                F.coalesce(F.col("hits"), F.lit(0)).cast("double")
                / F.lit(float(K))
            ).alias("recall"),
        )
        .orderBy("qid")
    )


def s24_hnsw_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-level layered-descent ANN (the log(n) ladder s22's
    two-level form instantiates, one rung taller — proving
    hnsw_descent's arbitrary level list with a driver-gated row, not
    just a unit test): entry beam from an exact scan of the tiny
    vec_id % HNSW_L3_MOD member set, then greedy re-rank descents
    through graph_l2 (NEW deposit: the s11 machinery over the
    % HNSW_L2_MOD members, level-sized plane count), graph_l1, and
    the converged level-0 generation graph_nnd2. Per-vector recall
    rows (same contract as s22, so the two ladders are directly
    comparable per query vector).

    Scale shape: identical per-level plan as s22 — each added level
    is one more bounded entry/expand/re-rank block over its own n·k
    edge deposit, which is exactly how the ladder grows with log(n)
    at 100 TB; the entry scan SHRINKS (|entry| = n/64 vs n/16) as
    levels are added. The DuckDB twin replays every hop including the
    third graph build.

    Honesty note: at TEST scale the extra level is over-deep — 500
    vectors give an 8-member entry level, so the 3-level ladder's
    recall sits below s22's 2-level form (0.067 vs 0.167 at sf0.01,
    beam 4). That is the real trade (entry cost ÷4 for recall) and
    exactly why ladder depth is a function of n: this key proves the
    MECHANISM at a driver-gated grain; the depth choice belongs to
    the corpus size and is executable as
    operators/similarity.hnsw_ladder_moduli (entry-size-targeted,
    geometry pinned in tests)."""
    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    emb = load(spark, sf_dir, "embeddings")
    res = similarity.hnsw_descent(
        emb,
        [
            _graph_l2(spark, sf_dir),
            _graph_l1(spark, sf_dir),
            _graph_nnd2(spark, sf_dir),
        ],
        k=K,
        n_queries=nq,
        beam=HNSW_BEAM,
        entry_mod=HNSW_L3_MOD,
    ).select("qid", "cid")
    return _per_vec_recall(exact, res)


def s26_hnsw_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layered-descent ANN whose ladder GEOMETRY is derived from the
    corpus size by the executable depth policy
    (operators/similarity.hnsw_ladder_moduli) instead of pinned
    constants — the r10-verdict gap: the formula existed and was
    unit-pinned, but no driver-gated key actually ran the ladder it
    chose. This key counts the catalog (footer-only read, bounded
    count() fallback), derives the moduli, builds/reuses one level
    deposit per rung (the SAME graph_l{i} deposits the fixed s22/s24
    ladders read — coinciding moduli share builds), and descends with
    the derived entry modulus. Per-vector recall rows (the s12/s22/s24
    contract) plus the derived geometry as pinned columns, so the
    DuckDB twin — which derives the SAME moduli from the same corpus
    count — verifies both the descent and the depth choice: a formula
    disagreement between the engines is a hash mismatch, not a silent
    different-index comparison.

    At n=500 (sf0.01) the formula picks [4] — s22's 2-level geometry;
    at n=5000 (sf0.1) it picks [4, 16] — s24's 3-level geometry: the
    key DEEPENS with the corpus across the driver's own test scales,
    which is the log(n) ladder claim executed end-to-end.

    Scale shape: identical per-level plan as s22/s24 (each rung one
    bounded entry/expand/re-rank block over its own n·k edge deposit);
    the only additions are the footer count and the O(log n) Python
    loop deriving the moduli."""
    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    emb = load(spark, sf_dir, "embeddings")
    n = _emb_rows(sf_dir)
    if n is None:
        n = emb.count()  # bounded: parquet footer count, no row scan
    # empty catalog: the shallowest ladder over zero vectors yields
    # the correct empty output (the formula contract needs n >= 1)
    mods = similarity.hnsw_ladder_moduli(max(n, 1))
    entry_mod = similarity.HNSW_BRANCHING * mods[-1]
    graphs = [_graph_level(spark, sf_dir, m) for m in reversed(mods)]
    graphs.append(_graph_nnd2(spark, sf_dir))  # converged level 0
    res = similarity.hnsw_descent(
        emb, graphs, k=K, n_queries=nq, beam=HNSW_BEAM, entry_mod=entry_mod
    ).select("qid", "cid")
    return _per_vec_recall(exact, res).select(
        "qid",
        "n_hits",
        "n_possible",
        "recall",
        F.lit(len(mods) + 1).cast("bigint").alias("ladder_levels"),
        F.lit(entry_mod).cast("bigint").alias("entry_mod"),
    )


def s27_graph_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-deposit maintenance under CHURN, validated end-to-end:
    a deterministic retract-then-ingest script runs the incremental
    maintenance operators (operators/similarity.knn_graph_retract +
    knn_graph_ingest — the r10-verdict churn gap, also wired into the
    streaming loops via run_embedding_retract/run_embedding_ingest
    graph_paths) over an exact member-level kNN graph, and returns the
    maintained graph; the DuckDB twin computes the FROM-SCRATCH exact
    top-k over the final pool, so the driver hash-verifies the
    maintenance invariant itself (maintained ≡ rebuilt), not just row
    shapes — the batch analogue of the streaming from-scratch-equality
    pins in tests/test_streaming.py.

    Script (all sets derived from vec_id, twin-replayable): members =
    vec_id % mod == 0 at the ≤256-member demo grain
    (similarity.churn_modulus — the same executable-geometry
    discipline as s26's ladder formula, so the exact twin stays
    bounded at any corpus size); with j = (vec_id div mod) % 5, the
    initial pool excludes the LATE cohort (j = 3), the exact graph is
    built over it, the j = 2 cohort is RETRACTED (incremental repair:
    prune + exact re-rank of vertices that lost a neighbor), then the
    late cohort is INGESTED (exact new neighborhoods + merge re-cut
    of existing vertices against the batch).

    Scale shape: the maintenance operators are corpus-grain (keyed
    anti/semi joins sized by the churn batch + one broadcast re-rank
    of the touched/new cohort — see their docstrings); only the
    exact-build demo grain is bounded by churn_modulus. The four
    non-equi joins all broadcast ≤256-member cohorts by construction
    (count-gated in tests/test_scale_plans.py)."""
    emb = load(spark, sf_dir, "embeddings")
    n = _emb_rows(sf_dir)
    if n is None:
        n = emb.count()  # bounded: parquet footer count, no row scan
    # empty catalog (partition-pruned read, fresh pipeline): any
    # modulus yields the correct empty output — use the smallest
    mod = similarity.churn_modulus(max(n, 1))
    # one bounded materialization feeds all three maintenance stages
    # (exact build, retract repair, ingest merge) — without it each
    # stage re-scans the parquet and re-filters the member level
    members = (
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id") % mod == 0)
        .localCheckpoint(eager=False)
    )
    j = F.expr(f"(vec_id div {mod}) % 5")
    pool0 = members.where(j != 3)
    late = members.where(j == 3)
    rm = members.where(j == 2).select("vec_id")
    g0 = similarity.cosine_topk(pool0, k=K, n_queries=2**62)
    surv = pool0.join(rm, "vec_id", "left_anti")
    g1 = similarity.knn_graph_retract(surv, g0, rm, k=K, members=surv)
    final_pool = surv.unionByName(late)
    g2 = similarity.knn_graph_ingest(g1, late, k=K, members=final_pool)
    return g2.orderBy("qid", "rk")


S30_DRIFT_MAX = 0.25  # re-train trigger: splits the test catalogs'
# per-cell drifts (0.12–0.36) so the flag DIFFERENTIATES — some cells
# retrain, some hold — at every sf; the policy logic itself is pinned
# in tests with synthetically shifted codebooks


def s30_ivf_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF deposit maintenance under CHURN (r12, the r11 verdict's
    item 4): the band index and the kNN graph ladders are maintained
    incrementally; this closes the coarse-quantizer family. A
    production IVF index does NOT recluster per churn batch — the
    centroids stay FROZEN between retrains, and because cell
    assignment at a frozen codebook is a pure per-vector function
    (operators/similarity.ivf_assign), maintenance is exact:

    1. freeze the codebook over the initial pool (j = vec_id % 5 ≠ 3,
       the s27 churn-script discipline — all sets derived from vec_id
       so the twin replays them; similarity.ivf_codebook),
    2. build the assignment deposit over that pool,
    3. RETRACT the j = 2 cohort — assignment rows just drop (keyed
       anti-join),
    4. INGEST the j = 3 cohort at the frozen codebook — one broadcast-
       codebook pass over the batch only,
    5. run the centroid-staleness monitor: per-cell drift = round(1 −
       cos(frozen centroid, current-corpus centroid), 9) (s15's drift
       machinery at codebook grain, similarity.ivf_codebook_drift)
       with the retrain trigger drift > S30_DRIFT_MAX (policy pinned
       in tests with synthetically shifted codebooks; a fully
       churned-in/out cell reads drift = 1.0).

    The returned table is the MAINTAINED assignment deposit (vec_id,
    cell, aff) with each cell's staleness row joined on; the DuckDB
    twin re-assigns the final corpus FROM SCRATCH at the same frozen
    centroids, so the driver hash-verifies the maintained ≡ rebuilt
    invariant itself (s27's discipline for the graph family) plus
    the monitor bit-for-bit.

    Scale shape: two codebook builds (64× posexplode → label×dim hash
    agg → ≤n_cells rows), two broadcast-codebook assignment passes
    (the k-means assignment shape — a ≤n_cells-row build side at any
    corpus scale), one keyed anti-join, one codebook-grain drift
    join. Linear end-to-end; per-batch maintenance cost is the BATCH
    size, not the corpus."""
    emb = load(spark, sf_dir, "embeddings")
    j = F.col("vec_id") % 5
    pool0 = emb.where(j != 3)
    late = emb.where(j == 3)
    rm = emb.where(j == 2).select("vec_id")
    cents = similarity.ivf_codebook(pool0).localCheckpoint(
        eager=False
    )  # FROZEN codebook: feeds both assignment passes + the monitor
    a0 = similarity.ivf_assign(pool0, cents)
    a1 = a0.join(rm, "vec_id", "left_anti")
    a2 = a1.unionByName(similarity.ivf_assign(late, cents))
    final_pool = pool0.join(rm, "vec_id", "left_anti").unionByName(late)
    drift = similarity.ivf_codebook_drift(
        cents, similarity.ivf_codebook(final_pool), S30_DRIFT_MAX
    )
    # the drift table is codebook-grain (≤ n_cells rows at ANY corpus
    # scale) behind stat-less checkpoint reads: broadcast it so the
    # corpus-sized assignment deposit is never exchanged+sorted for
    # this join (s31 already does; guide §3.1)
    return (
        a2.join(F.broadcast(drift), "cell")
        .select("vec_id", "cell", "aff", "drift", "retrain")
        .orderBy("vec_id")
    )


S31_DRIFT_MAX = 0.01  # re-train trigger: splits the test catalogs'
# subspace-cell drift distributions (measured cell ranges under the
# 20% churn script: sf0.001 [0.0014, 0.064], sf0.01 [0.0025, 0.126],
# sf0.1 [0.0005, 0.025] — 0.01 sits inside every range), so BOTH
# retrain branches are live at every sf; a fully churned-in/out cell
# reads 1.0. Policy pinned in tests with synthetically shifted
# codebooks like S30_DRIFT_MAX.


def s31_pq_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ CODE-deposit maintenance under CHURN (r13, the r12 verdict's
    item 2): s30 closed the coarse quantizer; this closes the code
    residency — a production PQ index does NOT re-learn its subspace
    codebooks per churn batch, and the code rows themselves are a pure
    PER-VECTOR function (sign cells, operators/similarity.pq_encode),
    so maintenance is exact:

    1. freeze the subspace codebook over the initial pool (j = vec_id
       % 5 ≠ 3, the s27/s30 churn-script discipline — all cohorts
       derived from vec_id so the twin replays them;
       similarity.pq_codebook at the frozen pq_shift geometry),
    2. build the code deposit over that pool (vec_id, sub, code),
    3. RETRACT the j = 2 cohort — code rows just drop (keyed
       anti-join),
    4. INGEST the j = 3 cohort — one per-vector batch encode
       (similarity.pq_encode; no pool statistic is consulted, exactly
       s30's frozen-codebook argument one level down),
    5. run the codebook-staleness monitor at SUBSPACE grain: per
       (sub, code) drift = round(1 − cos(frozen centroid sums,
       current-corpus centroid sums), 9)
       (similarity.pq_codebook_drift — ivf_codebook_drift's machinery
       on the packed subspace key) with the retrain trigger drift >
       S31_DRIFT_MAX (policy pinned in tests with synthetically
       shifted codebooks; a fully churned-in/out cell reads 1.0).

    The returned table is the MAINTAINED code deposit with each
    cell's staleness row joined on; the DuckDB twin re-encodes the
    final corpus FROM SCRATCH and rebuilds both codebooks from the
    generative rule, so the driver hash-verifies maintained ≡ rebuilt
    itself (the s27/s30 discipline for the code family).

    Scale shape: two linear encode passes (PQ_M rows per vector, no
    join), two codebook aggs (≤ PQ_M·2^PQ_BITS rows out), one keyed
    anti-join, one broadcast join of the ≤128-row drift table.
    Per-batch maintenance cost is the BATCH size, not the corpus —
    and codes are 32 bits/vector, so the maintained deposit is the
    64×-compressed residency s8/s19 serve from."""
    emb = load(spark, sf_dir, "embeddings")
    n = _emb_rows(sf_dir)
    if n is None:
        n = emb.count()
    shift = similarity.pq_shift(max(n, 1))
    j = F.col("vec_id") % 5
    pool0 = emb.where(j != 3)
    late = emb.where(j == 3)
    rm = emb.where(j == 2).select("vec_id")
    base0 = pool0.select(
        "vec_id", similarity.scaled("embedding").alias("sv")
    )
    # ONE encode pass over the initial pool feeds BOTH the frozen
    # codebook and the code deposit (checkpointed: two consumers of a
    # corpus-sized projection would otherwise recompute it — the
    # multi-consumer-subtree rule; no join inside, so nothing hides
    # from the plan gate)
    coded0 = similarity._pq_coded(base0).localCheckpoint(eager=False)
    cb0 = similarity.pq_codebook(coded0, shift)
    d0 = coded0.select("vec_id", "sub", "code")
    d1 = d0.join(rm, "vec_id", "left_anti")
    d2 = d1.unionByName(similarity.pq_encode(late))
    final_pool = pool0.join(rm, "vec_id", "left_anti").unionByName(late)
    basef = final_pool.select(
        "vec_id", similarity.scaled("embedding").alias("sv")
    )
    cb1 = similarity.pq_codebook(similarity._pq_coded(basef), shift)
    drift = similarity.pq_codebook_drift(cb0, cb1, S31_DRIFT_MAX)
    return (
        d2.join(F.broadcast(drift), ["sub", "code"])
        .select("vec_id", "sub", "code", "drift", "retrain")
        .orderBy("vec_id", "sub")
    )


S28_FILTER_MOD = 2  # tenant attribute: vec_id parity (source/ACL stand-in)
S29_FILTER_MODS = (2, 8)  # s29 selectivity sweep: 1/2 and 1/8 tenants


def _s29_cells() -> list[tuple[int, int, int]]:
    """s29's decision-table cells: (filter_mod, widen, effective
    beam) — each selectivity at the base width and at the width
    widened by the inverse selectivity (the filtered-HNSW knob)."""
    return [(m, w, HNSW_BEAM * w) for m in S29_FILTER_MODS for w in (1, m)]


def _fann_exact(base: DataFrame, nq: int, mod: int) -> DataFrame:
    """Eagerly-checkpointed exact same-tenant truth — the shared
    per-mod chain of the filtered-ANN family (s29's decision table
    and s32's policy dispatch build the SAME truth; one copy)."""
    return _s28_exact_filtered(base, nq, mod).localCheckpoint(eager=True)


def _fann_beam(emb, graphs, base, nq: int, mod: int, beam: int) -> DataFrame:
    """Filtered-beam descent at an effective width — the predicate
    rides hnsw_descent's ``keep=`` (shared by s29/s32)."""
    return (
        similarity.hnsw_descent(
            emb, graphs, k=K, n_queries=nq, beam=beam,
            entry_mod=HNSW_L2_MOD, base=base,
            keep=F.col("qid") % mod == F.col("cid") % mod,
        )
        .select("qid", "cid")
        .localCheckpoint(eager=True)
    )


def _fann_pool(emb, graphs, base, nq: int, beam: int) -> DataFrame:
    """Unfiltered scored pool (collect_candidates) at an effective
    width (shared by s29/s32; one pool serves every tenant at that
    width)."""
    return similarity.hnsw_descent(
        emb, graphs, k=K, n_queries=nq, beam=beam,
        entry_mod=HNSW_L2_MOD, base=base, collect_candidates=True,
    ).localCheckpoint(eager=True)


def _fann_route_cut(pool: DataFrame, mod: int) -> DataFrame:
    """Route-from-pool answer: the top-K predicate-passing candidates
    among everything any hop scored (shared by s29/s32)."""
    from pyspark.sql.window import Window

    wq = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col("cid"))
    return (
        pool.where(F.col("qid") % mod == F.col("cid") % mod)
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= K)
        .select("qid", "cid")
    )


def _fann_npos(qcohort: DataFrame, exact_f: DataFrame) -> DataFrame:
    """Cohort-keyed coverage (n_possible per query; empty tenants
    surface as 0 rather than vanishing — the r11-advice discipline,
    shared by s29/s32)."""
    # nq-bounded aggregate behind stat-less chains: broadcast the
    # coverage side (see _per_vec_recall)
    return qcohort.join(
        F.broadcast(
            exact_f.groupBy("qid").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_possible")
            )
        ),
        "qid",
        "left",
    ).select(
        "qid",
        F.coalesce("n_possible", F.lit(0)).cast("bigint").alias("n_possible"),
    )


def _fann_cell_rows(
    npos: DataFrame, exact_f: DataFrame, res: DataFrame, lits
) -> DataFrame:
    """One strategy-cell's per-query metric rows (n_kept, n_hits,
    n_possible, recall vs the exact truth), prefixed by the caller's
    literal columns — the row assembly both s29 and s32 emit."""
    hits = (
        exact_f.join(res, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    kept = res.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )
    # nq-bounded aggregates behind stat-less chains: broadcast the
    # coverage sides (see _per_vec_recall) — 8 cells × 2 SMJs was the
    # bulk of s29's 64-SortMergeJoin plan
    return (
        npos.join(F.broadcast(hits), "qid", "left")
        .join(F.broadcast(kept), "qid", "left")
        .select(
            *lits,
            "qid",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            "n_possible",
            F.when(
                F.col("n_possible") > 0,
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_possible").cast("double"),
            ).alias("recall"),
        )
    )


def _s28_exact_filtered(base: DataFrame, nq: int, mod: int) -> DataFrame:
    """s28's exact same-tenant truth over a prebuilt (vec_id, sv, nrm)
    base: brute-force top-K among candidates sharing the query's
    tenant. The tenant predicate is an extractable equi key
    (qid % mod = cid % mod), so the join plans KEYED (SMJ/BHJ with the
    <> as post-filter) even when the lazy-checkpointed base's size
    statistic won't carry — strictly safer than s1's loop join. The
    caller checkpoints the result, so the shape is pinned
    pre-checkpoint in tests/test_scale_plans.py."""
    from pyspark.sql.window import Window

    q = base.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"),
        F.col("sv").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("sv").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = F.round(
        similarity.cosine_from_ints(
            similarity.int_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
        ),
        9,
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col("cid"))
    return (
        c.join(
            F.broadcast(q),
            (F.col("qid") != F.col("cid"))
            & (F.col("qid") % mod == F.col("cid") % mod),
        )
        .withColumn("cosine", cos)
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= K)
        .select("qid", "cid")
    )


def s28_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED ANN decision table (r11): the metadata-
    predicate search every production vector store runs (tenant /
    source / ACL filters), measured as the pre-filter-vs-post-filter
    trade the Qdrant/Milvus/FAISS docs all warn about. Per query
    (same nq=20 cohort as the rest of the family, tenant = vec_id %
    2): hits@k of (a) PRE-filter IVF — the predicate pushed below the
    top-k cut (operators/similarity.ivf_ann_filtered), every query
    gets a full k from its own tenant — and (b) POST-filter — the
    s4 unfiltered top-k deposit filtered afterwards, which STARVES
    when near neighbors belong to other tenants (post_kept < k is
    the starvation signal) — each scored against exact brute-force
    same-tenant truth. Coverage is keyed off the query COHORT (r11
    advice): a query whose tenant has no candidates at all appears as
    an n_possible=0 row with NULL recalls instead of silently
    vanishing from the table. Everything is the family's deterministic
    machinery (exact-int centroids, double-fold affinity, rounded-9
    int-cosines), so the DuckDB twin replays all three result sets
    and the whole decision table bit-for-bit.

    Scale shape: the exact-truth pass broadcasts the nq=20 query
    cohort, and the tenant predicate hands Catalyst an extractable
    EQUI key (qid % mod = cid % mod) — the join plans keyed, not as
    s1's loop join; pre-filter IVF is s4's probed-cell equi-join with
    one more pushed predicate; post-filter reads the existing ivf20
    DEPOSIT (zero new cold builds). Aggregations are nq-bounded."""
    nq = ANN_NQ
    mod = S28_FILTER_MOD
    emb = load(spark, sf_dir, "embeddings")
    # the family's one scaled-base builder (checkpointed, feeds query
    # + candidate sides) — not a local re-implementation
    base = similarity.hnsw_base(emb)
    exact_f = _s28_exact_filtered(base, nq, mod).localCheckpoint(
        eager=False
    )  # joined by three consumers; the non-equi join inside is pinned
    # pre-checkpoint by test_checkpoint_blind_spot_joins_pinned_pre_checkpoint
    pre = similarity.ivf_ann_filtered(
        emb, k=K, n_queries=nq, nprobe=3, filter_mod=mod
    ).select("qid", "cid")
    post = (
        _ivf20(spark, sf_dir)
        .where(F.col("qid") % mod == F.col("cid") % mod)
        .select("qid", "cid")
    )
    # Coverage is keyed off the QUERY COHORT, not the exact-truth
    # groupBy (r11 advice): a query whose tenant has zero same-tenant
    # candidates would otherwise vanish from the table entirely —
    # whole-tenant starvation must surface as an n_possible=0 row
    # (recalls NULL: 0-of-0 is undefined, not perfect), not as a
    # missing row.
    qcohort = base.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid")
    )
    npos = _fann_npos(qcohort, exact_f)
    ph = (
        exact_f.join(pre, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pre_hits"))
    )
    sh = (
        exact_f.join(post, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("post_hits"))
    )
    pk = post.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("post_kept")
    )
    # nq-bounded aggregates behind stat-less chains: broadcast the
    # coverage sides (see _per_vec_recall)
    return (
        npos.join(F.broadcast(ph), "qid", "left")
        .join(F.broadcast(sh), "qid", "left")
        .join(F.broadcast(pk), "qid", "left")
        .select(
            "qid",
            "n_possible",
            F.coalesce("pre_hits", F.lit(0)).cast("bigint").alias("pre_hits"),
            F.coalesce("post_hits", F.lit(0)).cast("bigint").alias("post_hits"),
            F.coalesce("post_kept", F.lit(0)).cast("bigint").alias("post_kept"),
            F.when(
                F.col("n_possible") > 0,
                F.coalesce("pre_hits", F.lit(0)).cast("double")
                / F.col("n_possible").cast("double"),
            ).alias("recall_pre"),
            F.when(
                F.col("n_possible") > 0,
                F.coalesce("post_hits", F.lit(0)).cast("double")
                / F.col("n_possible").cast("double"),
            ).alias("recall_post"),
        )
        .orderBy("qid")
    )


def s29_filtered_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search on the GRAPH ladder (r12, the r11 verdict's
    item 2): s28 proves the pre/post-filter trade for IVF; production
    vector stores run the tenant/ACL predicate through the HNSW
    descent, and there are two query-time shapes (the Qdrant/
    Weaviate/ACORN design space), both measured here per QUERY
    (s12/s22's reporting grain — the oracle binds WHICH queries
    starve) at two selectivities (tenant = vec_id % filter_mod ∈
    {2, 8}, s28's attribute family) and two beam widths (base, and
    widened by the inverse selectivity — the production rule of
    thumb):

    - strategy='beam' — the FILTERED BEAM: expansion walks the
      unfiltered graph deposits but only predicate-passing
      candidates are re-ranked into the beam
      (operators/similarity.hnsw_descent ``keep=``). Cheapest, but a
      selective filter SEVERS routes (a passing vertex's neighbors
      mostly fail the predicate), so it starves — visibly, as
      n_kept < K rows.
    - strategy='route' — ROUTE UNFILTERED, answer filtered: the
      descent navigates without the predicate and the answer is the
      top-K predicate-passing candidates among everything any hop
      scored (``collect_candidates=True`` pool). Pays the same hop
      work as an unfiltered search and recovers where 'beam'
      starves; when even this floor is too low the answer is s28's
      pre-filter (run the predicate through the INDEX, not the
      descent).

    Each cell row carries n_kept (starvation), n_hits, n_possible,
    recall vs exact brute-force same-tenant truth. Coverage keys off
    the nq query cohort (s28's r11-advice discipline), so an
    empty-tenant query surfaces as n_possible=0 with NULL recall
    instead of vanishing.

    Since r13 every row also carries ``auto_strategy`` — the
    EXECUTABLE policy's pick for its cell
    (operators/similarity.filtered_ann_strategy: 'pre' at/below the
    FILTERED_ANN_PRE_MAX selectivity cliff the s28/s29 tables
    measure, 'beam' when the effective beam keeps ≥ K expected
    predicate-passing slots, 'route' when starvation is predicted) —
    stamped from the scalar function on the Spark side while the
    DuckDB twin replays the formula in SQL, so the policy itself is
    hash-verified (the r12 verdict's tables-to-decision item).

    Scale shape: one shared hnsw_base; one filtered descent per cell
    + one unfiltered pool per DISTINCT effective beam (the beam-4
    pool serves both selectivities) — every descent is s22's audited
    per-level plan (bounded entry cross, nq=20 broadcast build — the
    s1 pattern — then equi-join hops against n·k edge deposits);
    pools are O(nq·(|entry| + levels·beam·k)) rows re-ranked by one
    per-query window; exact truth is s28's keyed-equi-join pass
    (tenant predicate extractable). Everything nq-bounded after the
    deposits. Deterministic end-to-end, so the DuckDB twin replays
    every filtered hop, every pool, and the whole table
    bit-for-bit."""
    from concurrent.futures import ThreadPoolExecutor

    nq = ANN_NQ
    emb = load(spark, sf_dir, "embeddings")
    graphs = [_graph_l1(spark, sf_dir), _graph_nnd2(spark, sf_dir)]
    base = similarity.hnsw_base(emb)
    base.count()  # materialize the shared checkpoint on the MAIN
    # thread before fanning out — concurrent first-touch of one lazy
    # checkpoint from several jobs would race
    qcohort = base.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid")
    )
    # Build AND materialize all 9 independent chains (2 exact
    # truths, 4 filtered descents, 3 unfiltered pools) CONCURRENTLY:
    # the dominant cost at test scale is driver-side plan
    # construction + analysis (py4j expression building, one Catalyst
    # analysis per checkpoint boundary), and the chains' bounded jobs
    # leave most of the cluster idle — the thread pool overlaps both.
    # Deposits and the shared base are prebuilt on the main thread
    # (no deposit accessor runs off-thread; concurrent first-touch of
    # one lazy checkpoint would race, hence base.count() above).
    # The chain builders are the module-level _fann_* helpers shared
    # with s32's policy dispatch — one copy of the machinery.
    with ThreadPoolExecutor(max_workers=9) as ex:
        ef = {
            m: ex.submit(_fann_exact, base, nq, m) for m in S29_FILTER_MODS
        }
        bf = {
            (m, w): ex.submit(
                _fann_beam, emb, graphs, base, nq, m, HNSW_BEAM * w
            )
            for m in S29_FILTER_MODS
            for w in (1, m)
        }
        pf = {
            b: ex.submit(_fann_pool, emb, graphs, base, nq, b)
            for b in sorted({b for _, _, b in _s29_cells()})
        }
        exact_fs = {k: f.result() for k, f in ef.items()}
        beam_results = {k: f.result() for k, f in bf.items()}
        pools = {k: f.result() for k, f in pf.items()}

    npos = {m: _fann_npos(qcohort, exact_fs[m]) for m in S29_FILTER_MODS}

    def one_cell(mod: int, widen: int, strat: str) -> DataFrame:
        beam_eff = HNSW_BEAM * widen
        res = (
            beam_results[(mod, widen)]
            if strat == "beam"
            else _fann_route_cut(pools[beam_eff], mod)
        )
        return _fann_cell_rows(
            npos[mod],
            exact_fs[mod],
            res,
            [
                F.lit(mod).cast("bigint").alias("filter_mod"),
                F.lit(widen).cast("bigint").alias("widen"),
                F.lit(beam_eff).cast("bigint").alias("beam"),
                F.lit(strat).alias("strategy"),
                # the executable POLICY's pick for this cell
                # (r13): stamped from the scalar function so
                # the twin's in-SQL replay of the formula
                # hash-verifies the policy itself
                F.lit(
                    similarity.filtered_ann_strategy(1.0 / mod, K, beam_eff)
                ).alias("auto_strategy"),
            ],
        )

    # the 8 cell rows are independent plan constructions over the
    # checkpointed chains — build them concurrently too (pure analysis,
    # no materialization; union in deterministic cell order below)
    cells = [
        (mod, widen, strat)
        for mod in S29_FILTER_MODS
        for widen in (1, mod)
        for strat in ("beam", "route")
    ]
    with ThreadPoolExecutor(max_workers=len(cells)) as ex:
        rows = [ex.submit(one_cell, *c) for c in cells]
        rows = [f.result() for f in rows]
    out = rows[0]
    for row in rows[1:]:
        out = out.unionByName(row)
    return out.orderBy("filter_mod", "widen", "strategy", "qid")


def s32_filtered_ann_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-DISPATCHED filtered ANN (r13): s28/s29 measure the
    design space and stamp the executable policy's pick
    (operators/similarity.filtered_ann_strategy); this key EXECUTES
    that pick per cell — the production query path, where the engine
    chooses pre-filter / filtered-beam / route-from-pool from
    (selectivity, k, effective beam) and runs exactly that machinery:

    - 'pre' cells run s28's predicate-through-the-index IVF
      (similarity.ivf_ann_filtered — width-independent, so both
      widths of a pre tenant share one result),
    - 'beam' cells run s22's descent with the predicate riding
      ``keep=`` at the cell's effective width,
    - 'route' cells navigate unfiltered and answer from the scored
      pool (collect_candidates).

    Per-query rows against the same exact same-tenant truth and
    cohort-keyed coverage as s29 — so the table shows what the AUTO
    dispatch actually delivers (recall, starvation) where s29 shows
    the whole design space. The strategy column is stamped from the
    scalar policy on the Spark side while the twin replays the
    formula in SQL AND assembles the matching machinery, so a policy
    divergence is a driver hash mismatch, not a silent wrong plan.

    Scale shape: strictly a subset of s29's audited chains (at the
    shipped constants: two exact truths, one pool, one filtered
    descent, one IVF pre-filter pass shared by both pre cells) —
    everything nq-bounded after the shared deposits; chains built and
    materialized concurrently (driver-side plan construction
    dominates at test scale, the s29 note)."""
    from concurrent.futures import ThreadPoolExecutor

    nq = ANN_NQ
    emb = load(spark, sf_dir, "embeddings")
    cells = _s29_cells()
    choices = {
        (m, w, b): similarity.filtered_ann_strategy(1.0 / m, K, b)
        for m, w, b in cells
    }
    graphs = [_graph_l1(spark, sf_dir), _graph_nnd2(spark, sf_dir)]
    base = similarity.hnsw_base(emb)
    base.count()  # materialize the shared checkpoint on the MAIN
    # thread before fanning out (s29's concurrency note)
    qcohort = base.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid")
    )

    def _build_pre(mod: int) -> DataFrame:
        return (
            similarity.ivf_ann_filtered(
                emb, k=K, n_queries=nq, nprobe=3, filter_mod=mod
            )
            .select("qid", "cid")
            .localCheckpoint(eager=True)
        )

    mods = sorted({m for m, _, _ in cells})
    pool_beams = sorted(
        {b for (m, w, b), s in choices.items() if s == "route"}
    )
    beam_cells = sorted(
        {(m, b) for (m, w, b), s in choices.items() if s == "beam"}
    )
    pre_mods = sorted({m for (m, w, b), s in choices.items() if s == "pre"})
    # chain builders are s29's module-level _fann_* helpers — one copy
    with ThreadPoolExecutor(max_workers=8) as ex:
        ef = {m: ex.submit(_fann_exact, base, nq, m) for m in mods}
        pf = {
            b: ex.submit(_fann_pool, emb, graphs, base, nq, b)
            for b in pool_beams
        }
        bf = {
            (m, b): ex.submit(_fann_beam, emb, graphs, base, nq, m, b)
            for m, b in beam_cells
        }
        prf = {m: ex.submit(_build_pre, m) for m in pre_mods}
        exact_fs = {k2: f.result() for k2, f in ef.items()}
        pools = {k2: f.result() for k2, f in pf.items()}
        beams = {k2: f.result() for k2, f in bf.items()}
        pres = {k2: f.result() for k2, f in prf.items()}

    npos = {m: _fann_npos(qcohort, exact_fs[m]) for m in mods}

    def one_cell(m: int, w: int, b: int) -> DataFrame:
        strat = choices[(m, w, b)]
        if strat == "pre":
            res = pres[m]
        elif strat == "beam":
            res = beams[(m, b)]
        else:
            res = _fann_route_cut(pools[b], m)
        return _fann_cell_rows(
            npos[m],
            exact_fs[m],
            res,
            [
                F.lit(m).cast("bigint").alias("filter_mod"),
                F.lit(w).cast("bigint").alias("widen"),
                F.lit(b).cast("bigint").alias("beam"),
                F.lit(strat).alias("strategy"),
            ],
        )

    # cell rows are independent plan constructions over checkpointed
    # chains — build concurrently, union in deterministic cell order
    with ThreadPoolExecutor(max_workers=max(len(cells), 1)) as ex:
        rows = [ex.submit(one_cell, *c) for c in cells]
        rows = [f.result() for f in rows]
    out = rows[0]
    for row in rows[1:]:
        out = out.unionByName(row)
    return out.orderBy("filter_mod", "widen", "qid")


def s23_hnsw_beam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-time tuning curve for the layered descent: cohort
    recall at beam (ef) ∈ HNSW_BEAM_SWEEP, all widths served from the
    SAME two graph deposits (graph_nnd2 + graph_l1 — an index is
    built and refined once; the beam is a pure query-time knob,
    exactly s20's shortlist-sweep discipline for the ADC family). One
    aggregate row per beam; the s22 default-width row equals s22's
    per-vector table summed (pinned in tests). Recall is not forced
    monotone in beam — greedy descent may trade a kept-beam slot for
    a neighbor — which is precisely what the curve is for. The
    scaled-vector base is built ONCE (similarity.hnsw_base) and
    shared across the sweep's descents, so the sweep pays one corpus
    scan + checkpoint, not one per beam width.

    The per-beam descents are INDEPENDENT chains over shared prebuilt
    inputs, so they are constructed and materialized concurrently
    (s29's ThreadPoolExecutor pattern — guide §2.6 overlap + §7.3
    planning cost): the dominant cost at test scale is driver-side
    plan construction/physical planning per descent hop, and the
    bounded jobs leave the cluster idle. Deposits and the shared base
    are prebuilt on the main thread (concurrent first-touch of one
    lazy checkpoint would race — base.count() materializes it)."""
    from concurrent.futures import ThreadPoolExecutor

    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    emb = load(spark, sf_dir, "embeddings")
    graphs = [_graph_l1(spark, sf_dir), _graph_nnd2(spark, sf_dir)]
    base = similarity.hnsw_base(emb)
    base.count()  # materialize the shared checkpoint pre-fan-out

    def one_beam(b: int) -> DataFrame:
        return (
            similarity.hnsw_descent(
                emb, graphs, k=K, n_queries=nq, beam=b,
                entry_mod=HNSW_L2_MOD, base=base,
            )
            .select("qid", "cid")
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=len(HNSW_BEAM_SWEEP)) as ex:
        futs = [(b, ex.submit(one_beam, b)) for b in HNSW_BEAM_SWEEP]
        points = [(b, f.result()) for b, f in futs]
    return _recall_curve(exact, "beam", points)


def s25_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval recall of SYMMETRIC-int8-quantized embeddings vs
    full-precision truth (r10) — the decision table s5 lacks: s5
    reports the reconstruction error of the int8 compression an index
    ships at 100 TB (4× residency cut vs float32), this reports what
    that compression does to RETRIEVAL — per-query-vector recall@K of
    brute-force cosine over the int8 codes
    (operators/similarity.int8_vectors — the exact same q =
    sign·((2·127·|xi| + m) div 2m) quantizer s5 accounts for) against
    the exact top-k deposit. Same per-vector contract as s12/s22/s24,
    so the quantization ladder (full → matryoshka prefix (s13) → int8
    (s25) → PQ codes (s8/s20)) reads on one axis.

    Scale shape: identical to s1's audited brute-force pattern (the
    correctness baseline — bounded query cohort broadcast, one corpus
    scan); at 100 TB the same int8 codes ride the LSH/IVF/graph
    ladder instead of a linear scan. Cosine over int8 codes is pure
    int64 dot + rounded-9 division, so the DuckDB twin replays it
    bit-for-bit."""
    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")
    emb = load(spark, sf_dir, "embeddings")
    res = similarity.cosine_topk_from(
        similarity.int8_vectors(emb).localCheckpoint(eager=False),
        k=K,
        n_queries=nq,
    ).select("qid", "cid")
    return _per_vec_recall(exact, res)


MRL_DIMS = 16  # truncated-prefix width for the Matryoshka evaluation


def s13_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval evaluation (Matryoshka-style,
    Kusupati et al. 2022): score the same nq=20 cohort with only the
    FIRST 16 of 64 embedding dimensions and report per-vector
    recall@k against the full-dimension truth — the measurement that
    decides whether short-prefix vectors can serve as a cheap
    first-pass filter at 100 TB (4× less memory bandwidth and ADC
    work per candidate). On the synthetic corpus — i.i.d. dimensions,
    no Matryoshka-trained front-loading — the honest answer is "no"
    (mean recall ~0.03 at sf0.01); on MRL-trained embeddings the same
    measurement is what clears the prefix for production use. Same
    exact-int scoring discipline as s1
    (the truncated corpus is just ``slice(embedding, 1, 16)``), same
    per-vector binding shape as s12; both inputs are sim_family
    deposits (exact20 + the truncated top-k)."""
    nq = ANN_NQ
    exact = _exact20(spark, sf_dir).select("qid", "cid")

    def trunc_builder() -> DataFrame:
        emb = load(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.slice("embedding", 1, MRL_DIMS)
        )
        return similarity.cosine_topk(emb, k=K, n_queries=nq)

    t = (
        sim_family.result(
            spark,
            sf_dir,
            "trunc20",
            {"k": K, "nq": nq, "dims": MRL_DIMS},
            trunc_builder,
        )
        .select("qid", "cid")
    )
    return _per_vec_recall(exact, t)


SEMDEDUP_THRESHOLD = 0.3


def s7_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) keep/drop decision per vector —
    deterministic greedy rule over exact-int IVF cells, so the DuckDB
    twin reproduces the whole decision bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, threshold=SEMDEDUP_THRESHOLD)


MMR_POOL = 16  # candidate shortlist per query fed to the re-ranker
MMR_M = 6  # diversified picks per query


def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deposit-backed exact top-MMR_POOL candidate shortlist over the
    shared nq=20 cohort — the retrieval result the re-ranker consumes
    (built once per corpus, sim_family)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim_family.result(
        spark,
        sf_dir,
        "mmr_pool",
        {"k": MMR_POOL, "nq": ANN_NQ},
        lambda: similarity.cosine_topk(emb, k=MMR_POOL, n_queries=ANN_NQ),
    )


def s14_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (operators/similarity.py::mmr_rerank):
    greedily pick MMR_M of each query's MMR_POOL exact-cosine
    candidates, each step maximizing relevance minus max similarity to
    the already-picked set — the shortlist diversification a RAG /
    few-shot-selection pipeline applies so near-duplicate passages
    don't crowd out coverage. Every score is the family's rounded-9
    exact-int cosine and each step compares single IEEE subtractions
    of identical doubles, so the recursive-CTE DuckDB twin selects the
    identical sequence (same picks, same steps, same scores)."""
    return similarity.mmr_rerank(
        load(spark, sf_dir, "embeddings"),
        _mmr_pool(spark, sf_dir),
        m=MMR_M,
    )


def s15_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift between the vec_id parity
    halves (operators/similarity.py::label_drift) — the batch
    monitoring twin of the streaming drift family: exact int64 per-dim
    sums stand in for the centroids (cosine is scale-invariant), one
    double-fold cosine per label in the documented IEEE op order, so
    the DuckDB twin binds bit-for-bit."""
    return similarity.label_drift(load(spark, sf_dir, "embeddings"))


def s16_knn_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph centrality over the s11 kNN graph
    (operators/similarity.py::graph_pagerank): 3 rounds of
    integer-arithmetic PageRank, top-25 vectors by rank — the
    density/coreset-selection signal graph-based curation reads (a
    high-rank vector anchors a dense region). The graph comes from
    the SHARED sim_family deposit (built once, s11/s12 and this all
    read it); all updates are int64, so the unrolled-CTE DuckDB twin
    reproduces every rank bit-for-bit."""
    return similarity.graph_pagerank(_graph(spark, sf_dir), iters=3, top=25)


QUERIES = {
    "s1_cosine_topk": s1_cosine_topk,
    "s14_mmr_rerank": s14_mmr_rerank,
    "s15_label_drift": s15_label_drift,
    "s16_knn_centrality": s16_knn_centrality,
    "s17_ivf_probe_sweep": s17_ivf_probe_sweep,
    "s6_ann_recall": s6_ann_recall,
    "s2_label_centroids": s2_label_centroids,
    "s3_lsh_ann": s3_lsh_ann,
    "s4_ivf_ann": s4_ivf_ann,
    "s8_pq_ann": s8_pq_ann,
    "s19_ivfpq_ann": s19_ivfpq_ann,
    "s20_pq_shortlist_sweep": s20_pq_shortlist_sweep,
    "s9_kmeans_refine": s9_kmeans_refine,
    "s10_cluster_balance": s10_cluster_balance,
    "s11_knn_graph": s11_knn_graph,
    "s12_graph_recall": s12_graph_recall,
    "s18_nn_descent": s18_nn_descent,
    "s21_nn_descent_converge": s21_nn_descent_converge,
    "s22_hnsw_ann": s22_hnsw_ann,
    "s23_hnsw_beam_sweep": s23_hnsw_beam_sweep,
    "s24_hnsw_multilevel": s24_hnsw_multilevel,
    "s25_int8_recall": s25_int8_recall,
    "s26_hnsw_adaptive": s26_hnsw_adaptive,
    "s27_graph_churn": s27_graph_churn,
    "s28_filtered_ann": s28_filtered_ann,
    "s29_filtered_graph_ann": s29_filtered_graph_ann,
    "s30_ivf_churn": s30_ivf_churn,
    "s31_pq_churn": s31_pq_churn,
    "s32_filtered_ann_auto": s32_filtered_ann_auto,
    "s13_matryoshka_recall": s13_matryoshka_recall,
    "s5_quantize_error": s5_quantize_error,
    "s7_semdedup": s7_semdedup,
    "d9_embedding_neardup": d9_embedding_neardup,
}

# scaled-integer arithmetic twin — see operators/similarity.py
_SCALED = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT))"
_DOT = (
    "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), (acc, x) -> acc + x)"
)


def _plane_dot(vec: str, plane) -> str:
    """Exact int64 dot of the scaled vector column ``vec`` with one ±1
    hyperplane, inlined as a literal list — the sign-bit twin of the
    LSH / split-plane bucketing in operators/similarity.py."""
    arr = "[" + ",".join(str(int(v)) for v in plane) + "]"
    return _DOT.format(a=vec, b=f"({arr})")


def _oracle_emb_rows() -> int:
    """Embedding count of the gate catalog (footer-only read); the
    adaptive twins bake in the parameters this count implies. A failed
    read warns LOUDLY before falling back — a silent fallback at a
    non-sf0.01 gate would produce guaranteed-diverging buckets that
    look like operator bugs."""
    sf = _oracle_sf()
    n = _emb_rows(sf)
    if n is None:
        import warnings

        warnings.warn(
            f"sim oracles: embeddings row count unreadable from {sf!r}; "
            "falling back to 500 (the shipped sf0.01 count). Adaptive "
            "twins WILL diverge from Spark if the gate runs at another "
            "scale — set YUKI_SPARK_TEST_SF to the gate's sf_dir.",
            stacklevel=2,
        )
        return 500
    return n


def _d9_oracle() -> str:
    """LSH twin of cosine_neardup_pairs: identical ±1 hyperplane sign
    bits (exact int64 dots), identical band buckets (bits-per-band
    from the same adaptive_bits(count) the Spark side derives),
    identical exact verification — so DuckDB reproduces the candidate
    set bit-for-bit."""
    nb = similarity.NEARDUP_BANDS
    nbits = similarity.adaptive_bits(_oracle_emb_rows())
    nd_planes = similarity.lsh_planes(nb * nbits)

    signs = ",\n                 ".join(
        f"CASE WHEN {_plane_dot('sv', nd_planes[j])} >= 0 THEN 1 ELSE 0 END AS s{j}"
        for j in range(nb * nbits)
    )
    bands = "\n          UNION ALL ".join(
        "SELECT vec_id, {b} AS band, {expr} AS bucket FROM sb".format(
            b=b,
            expr=" + ".join(
                f"{1 << i} * s{b * nbits + i}" for i in range(nbits)
            ),
        )
        for b in range(nb)
    )
    return f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        normed AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM base),
        sb AS (
          SELECT vec_id, {signs}
          FROM base),
        buckets AS (
          {bands}),
        cand AS (
          SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          FROM buckets x JOIN buckets y
            ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
        scored AS (
          SELECT id_a, id_b,
                 round(CAST({_DOT.format(a='a.sv', b='b.sv')} AS DOUBLE)
                   / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))), 9) AS cosine
          FROM cand JOIN normed a ON a.vec_id = id_a
                    JOIN normed b ON b.vec_id = id_b)
        SELECT id_a, id_b, cosine FROM scored
        WHERE cosine >= {NEARDUP_THRESHOLD}
        ORDER BY id_a, id_b
    """


def _s3_oracle() -> str:
    """Twin of lsh_ann: identical ±1-plane sign buckets (exact int64
    dots, plane count from the same adaptive_planes(count) as the
    Spark side), identical Hamming-1 multi-probe set, identical
    int-cosine scoring within probed buckets."""
    n_planes = similarity.adaptive_planes(_oracle_emb_rows())
    ann_planes = similarity.lsh_planes(n_planes)

    bucket = " + ".join(
        f"(CASE WHEN {_plane_dot('sv', ann_planes[j])} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_planes)]
    )
    return f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        b AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm,
                 {bucket} AS bucket
          FROM base),
        qp AS (
          SELECT vec_id, sv, nrm, unnest([{probe_list}]) AS bucket
          FROM b WHERE vec_id < 20),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM qp q JOIN b c
            ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        SELECT qid, rk, cid, cosine FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= {K}
        ORDER BY qid, rk
    """


def _s1_sql_dims(nq: int, dims: int) -> str:
    """Brute-force top-k twin over the FIRST ``dims`` dimensions —
    the truncated-prefix scorer s13 evaluates (identical exact-int
    scaling/dot as _s1_sql, just a shorter list)."""
    scaled = (
        f"list_transform(list_slice(embedding, 1, {dims}),"
        " x -> CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT))"
    )
    dot = (
        f"list_reduce(list_transform(range(1, {dims + 1}),"
        " i -> {a}[i] * {b}[i]), (acc, x) -> acc + x)"
    )
    return f"""
        WITH tbase AS (
          SELECT vec_id, {scaled} AS sv FROM embeddings),
        tnormed AS (
          SELECT vec_id, sv, {dot.format(a='sv', b='sv')} AS nrm FROM tbase),
        tscored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(CAST({dot.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM tnormed q JOIN tnormed c ON q.vec_id < {nq} AND q.vec_id <> c.vec_id)
        SELECT qid, rk, cid, cosine FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rk
          FROM tscored)
        WHERE rk <= {K}
        ORDER BY qid, rk
    """


def _s13_oracle() -> str:
    """Twin of s13_matryoshka_recall: full-dim exact top-k LEFT JOIN
    the 16-dim-prefix top-k, per-vector hit counts — the s12 harness
    shape with the truncated scorer in place of the graph."""
    nq = 20
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        tq AS ({_s1_sql_dims(nq, MRL_DIMS)}),
        hits AS (
          SELECT e.qid, CAST(COUNT(t.cid) AS BIGINT) AS n_hits
          FROM exact e LEFT JOIN tq t ON t.qid = e.qid AND t.cid = e.cid
          GROUP BY e.qid)
        SELECT qid, n_hits, CAST({K} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({K} AS DOUBLE) AS recall
        FROM hits ORDER BY qid
    """


def _s1_sql(nq: int, k: int = K) -> str:
    """Parameterized brute-force top-k twin (used by s1, s6 and the
    s14 MMR candidate pool)."""
    return f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        normed AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM base),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM normed q JOIN normed c ON q.vec_id < {nq} AND q.vec_id <> c.vec_id)
        SELECT qid, rk, cid, cosine FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= {k}
        ORDER BY qid, rk
    """


_DDOT = (
    "list_reduce(list_transform(range(1, 65),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
)


def _ivf_prefix() -> str:
    """Shared CTE chain (base → ranked) of the exact-int IVF assignment —
    mirrors ``similarity._ivf_assignment`` and feeds both the s4_ivf_ann
    and s7_semdedup twins (identical exact-int centroid sums, identical
    double-fold affinity in Spark's left-fold IEEE op order)."""
    return f"""base AS (
          SELECT vec_id, label, {_SCALED} AS sv FROM embeddings),
        b AS (
          SELECT vec_id, label, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM base),
        ex AS (
          SELECT label,
                 CAST(generate_subscripts(sv, 1) AS INT) AS dim,
                 unnest(sv) AS sx
          FROM base),
        cd AS (
          SELECT label, dim, CAST(SUM(sx) AS BIGINT) AS cs
          FROM ex GROUP BY label, dim),
        cents AS (
          SELECT label AS cell, list(cs ORDER BY dim) AS cv
          FROM cd GROUP BY label),
        aff AS (
          SELECT v.vec_id, v.sv, v.nrm, c.cell,
                 {_DDOT.format(a='v.sv', b='c.cv')}
                   / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt({_DDOT.format(a='c.cv', b='c.cv')})) AS a
          FROM b v CROSS JOIN cents c),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY a DESC, cell) AS ark
          FROM aff)"""


def _s4_oracle(nq: int = 20, nprobe: int = 3, pred: str = "") -> str:
    """Twin of ivf_ann: identical exact-int centroid sums per label,
    identical double-fold affinity (same IEEE op order as Spark's
    aggregate/zip_with left fold), identical int-cosine candidate
    scores. ``pred`` injects an extra candidate predicate below the
    top-k cut — ivf_ann_filtered's pre-filter twin (s28)."""
    return f"""
        WITH {_ivf_prefix()},
        assigned AS (
          SELECT vec_id AS cid, sv AS cv2, nrm AS cn, cell FROM ranked WHERE ark = 1),
        probes AS (
          SELECT vec_id AS qid, sv AS qv, nrm AS qn, cell
          FROM ranked WHERE ark <= {nprobe} AND vec_id < {nq}),
        scored AS (
          SELECT qid, cid,
                 round(CAST({_DOT.format(a='q.qv', b='c.cv2')} AS DOUBLE)
                   / (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))), 9) AS cosine
          FROM probes q JOIN assigned c USING (cell)
          WHERE q.qid <> c.cid {pred})
        SELECT qid, rk, cid, cosine FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= {K}
        ORDER BY qid, rk
    """


def _s28_oracle(nq: int = 20) -> str:
    """Twin of s28_filtered_ann: exact same-tenant truth (the _s1
    brute-force body plus the tenant predicate), the s4 twin with the
    predicate pushed below the top-k cut (pre-filter), the plain s4
    twin filtered afterwards (post-filter), then the same nq-bounded
    decision-table aggregation."""
    mod = S28_FILTER_MOD
    exactf = f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        normed AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM base),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM normed q JOIN normed c
            ON q.vec_id < {nq} AND q.vec_id <> c.vec_id
           AND q.vec_id % {mod} = c.vec_id % {mod})
        SELECT qid, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
          FROM scored)
        WHERE rk <= {K}
    """
    pre_twin = _s4_oracle(nq, 3, pred=f"AND q.qid % {mod} = c.cid % {mod}")
    return f"""
        WITH exactf AS ({exactf}),
        pre AS (SELECT qid, cid FROM ({pre_twin})),
        post AS (
          SELECT qid, cid FROM ({_s4_oracle(nq, 3)})
          WHERE qid % {mod} = cid % {mod}),
        qc AS (
          SELECT vec_id AS qid FROM embeddings WHERE vec_id < {nq}),
        npos0 AS (
          SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_possible
          FROM exactf GROUP BY qid),
        npos AS (
          SELECT qc.qid, CAST(COALESCE(npos0.n_possible, 0) AS BIGINT) AS n_possible
          FROM qc LEFT JOIN npos0 ON npos0.qid = qc.qid),
        ph AS (
          SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS pre_hits
          FROM exactf e JOIN pre p ON p.qid = e.qid AND p.cid = e.cid
          GROUP BY e.qid),
        sh AS (
          SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS post_hits
          FROM exactf e JOIN post p ON p.qid = e.qid AND p.cid = e.cid
          GROUP BY e.qid),
        pk AS (
          SELECT qid, CAST(COUNT(*) AS BIGINT) AS post_kept
          FROM post GROUP BY qid)
        SELECT n.qid AS qid, n.n_possible AS n_possible,
               CAST(COALESCE(ph.pre_hits, 0) AS BIGINT) AS pre_hits,
               CAST(COALESCE(sh.post_hits, 0) AS BIGINT) AS post_hits,
               CAST(COALESCE(pk.post_kept, 0) AS BIGINT) AS post_kept,
               CASE WHEN n.n_possible > 0 THEN
                 CAST(COALESCE(ph.pre_hits, 0) AS DOUBLE)
                   / CAST(n.n_possible AS DOUBLE) END AS recall_pre,
               CASE WHEN n.n_possible > 0 THEN
                 CAST(COALESCE(sh.post_hits, 0) AS DOUBLE)
                   / CAST(n.n_possible AS DOUBLE) END AS recall_post
        FROM npos n
        LEFT JOIN ph ON ph.qid = n.qid
        LEFT JOIN sh ON sh.qid = n.qid
        LEFT JOIN pk ON pk.qid = n.qid
        ORDER BY qid
    """


def _s30_oracle() -> str:
    """Twin of s30_ivf_churn: the from-scratch REBUILD — re-assign the
    final corpus at the codebook frozen over the initial pool
    (identical exact-int centroid sums, identical double-fold
    affinity in Spark's left-fold IEEE op order), plus the per-cell
    staleness monitor — so the hash equality IS the maintained ≡
    rebuilt invariant."""
    thr = S30_DRIFT_MAX

    def cb(src: str, name: str) -> str:
        return f"""ex_{name} AS (
          SELECT label, CAST(generate_subscripts(sv, 1) AS INT) AS dim,
                 unnest(sv) AS sx
          FROM {src}),
        cd_{name} AS (
          SELECT label, dim, CAST(SUM(sx) AS BIGINT) AS cs
          FROM ex_{name} GROUP BY label, dim),
        {name} AS (
          SELECT label AS cell, list(cs ORDER BY dim) AS cv
          FROM cd_{name} GROUP BY label)"""

    return f"""
        WITH base AS (
          SELECT vec_id, label, {_SCALED} AS sv FROM embeddings),
        b AS (
          SELECT vec_id, label, sv, {_DOT.format(a='sv', b='sv')} AS nrm
          FROM base),
        pool0 AS (SELECT * FROM b WHERE vec_id % 5 <> 3),
        finalp AS (SELECT * FROM b WHERE vec_id % 5 <> 2),
        {cb('pool0', 'cents0')},
        {cb('finalp', 'cents1')},
        aff AS (
          SELECT v.vec_id, c.cell,
                 {_DDOT.format(a='v.sv', b='c.cv')}
                   / (sqrt(CAST(v.nrm AS DOUBLE))
                      * sqrt({_DDOT.format(a='c.cv', b='c.cv')})) AS a
          FROM finalp v CROSS JOIN cents0 c),
        asg AS (
          SELECT vec_id, cell, round(a, 9) AS aff FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY a DESC, cell) AS ark
            FROM aff)
          WHERE ark = 1),
        dr AS (
          SELECT COALESCE(f.cell, n.cell) AS cell,
                 CASE WHEN f.cell IS NULL OR n.cell IS NULL THEN 1.0
                      ELSE round(1.0 - {_DDOT.format(a='f.cv', b='n.cv')}
                        / (sqrt({_DDOT.format(a='f.cv', b='f.cv')})
                           * sqrt({_DDOT.format(a='n.cv', b='n.cv')})), 9)
                 END AS drift
          FROM cents0 f FULL JOIN cents1 n ON n.cell = f.cell)
        SELECT a.vec_id AS vec_id, a.cell AS cell, a.aff AS aff,
               d.drift AS drift, d.drift > {thr} AS retrain
        FROM asg a JOIN dr d ON d.cell = a.cell
        ORDER BY a.vec_id
    """


def _s31_oracle() -> str:
    """Twin of s31_pq_churn: the from-scratch REBUILD — re-encode the
    final corpus' sign-cell codes (identical comparison algebra),
    rebuild BOTH codebooks from the generative rule at the same
    frozen down-shift (>> is arithmetic in both engines), and replay
    the subspace-grain staleness monitor — so the hash equality IS
    the maintained ≡ rebuilt invariant for the code deposit."""
    m, sd, bits = similarity.PQ_M, similarity.PQ_SUBDIM, similarity.PQ_BITS
    shift = similarity.pq_shift(max(_oracle_emb_rows(), 1))
    thr = S31_DRIFT_MAX
    code = " + ".join(
        f"(CASE WHEN subv[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    # subspace-width DOUBLE dot (the drift cosine folds doubles like
    # Spark's F.aggregate; _DDOT is 64-wide — indexing past an 8-dim
    # codebook vector would NULL the whole reduce)
    sddot = (
        "list_reduce(list_transform(range(1, {d}),"
        " i -> CAST({{a}}[i] AS DOUBLE) * CAST({{b}}[i] AS DOUBLE)),"
        " (acc, x) -> acc + x)"
    ).format(d=sd + 1)

    def cb(src: str, name: str) -> str:
        return f"""ex_{name} AS (
          SELECT sub, code, CAST(generate_subscripts(subv, 1) AS INT) AS dim,
                 unnest(subv) AS sx
          FROM {src}),
        cd_{name} AS (
          SELECT sub, code, dim, CAST(SUM(sx) AS BIGINT) >> {shift} AS cs
          FROM ex_{name} GROUP BY sub, code, dim),
        {name} AS (
          SELECT sub, code, list(cs ORDER BY dim) AS cv
          FROM cd_{name} GROUP BY sub, code)"""

    return f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        subs AS (
          SELECT vec_id, CAST(s.sub AS INT) AS sub,
                 list_slice(sv, s.sub * {sd} + 1, s.sub * {sd} + {sd}) AS subv
          FROM base CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) s),
        coded AS (
          SELECT vec_id, sub, subv, ({code}) AS code FROM subs),
        c0 AS (SELECT * FROM coded WHERE vec_id % 5 <> 3),
        cf AS (SELECT * FROM coded WHERE vec_id % 5 <> 2),
        {cb('c0', 'cb0')},
        {cb('cf', 'cb1')},
        dr AS (
          SELECT COALESCE(f.sub, n.sub) AS sub,
                 COALESCE(f.code, n.code) AS code,
                 CASE WHEN f.sub IS NULL OR n.sub IS NULL THEN 1.0
                      ELSE round(1.0 - {sddot.format(a='f.cv', b='n.cv')}
                        / (sqrt({sddot.format(a='f.cv', b='f.cv')})
                           * sqrt({sddot.format(a='n.cv', b='n.cv')})), 9)
                 END AS drift
          FROM cb0 f FULL JOIN cb1 n ON n.sub = f.sub AND n.code = f.code)
        SELECT c.vec_id AS vec_id, c.sub AS sub, c.code AS code,
               d.drift AS drift, d.drift > {thr} AS retrain
        FROM cf c JOIN dr d ON d.sub = c.sub AND d.code = c.code
        ORDER BY c.vec_id, c.sub
    """


def _fann_exf_cte(m: int, nq: int) -> str:
    """The exact same-tenant truth CTE ``exf{m}`` — shared verbatim by
    the s29 and s32 twins (one copy of the truth SQL, mirroring the
    Spark side's shared _fann_exact)."""
    cosexpr = (
        f"round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)"
        " / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9)"
    )
    return f"""exf{m} AS (
          SELECT qid, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, cid) AS rk
            FROM (
              SELECT q.vec_id AS qid, c.vec_id AS cid, {cosexpr} AS cosine
              FROM vbn q JOIN vbn c
                ON q.vec_id < {nq} AND q.vec_id <> c.vec_id
               AND q.vec_id % {m} = c.vec_id % {m}))
          WHERE rk <= {K})"""


def _fann_pool_cte_block(b: int, tag: str) -> tuple[list[str], str]:
    """Unfiltered scored-pool CTEs at one effective beam (the
    collect_candidates twin: the per-hop sc_* scored sets unioned) —
    shared by the s29 and s32 twins. Returns (cte_strings,
    pool_cte_name); ``tag`` namespaces the descent CTEs so the two
    twins can't collide."""
    ctes, res = _hnsw_descent_ctes(b, f"{tag}{b}")
    sc_names = [f"sc_bent{tag}{b}", f"sc_b1{tag}{b}", f"sc_{res}"]
    union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in sc_names)
    pool = f"pool{tag}{b}"
    return (
        [
            ctes,
            f"{pool} AS (SELECT DISTINCT qid, cid, cosine FROM ({union}))",
        ],
        pool,
    )


def _s29_oracle() -> str:
    """Twin of s29_filtered_graph_ann: per cell, one FILTERED
    descent-chain replay (the tenant predicate riding
    _hnsw_descent_ctes' ``pred`` hook exactly where the Spark side
    applies ``keep``) plus one unfiltered pool per distinct beam
    (the per-hop sc_* scored sets _hnsw_rerank_ctes already emits,
    unioned — the collect_candidates twin), then the per-query
    decision rows for both strategies against the same-tenant exact
    truth with cohort-keyed coverage. Truth/pool CTEs come from the
    _fann_* helpers shared with the s32 twin."""
    nq = ANN_NQ
    parts = [_hnsw_shared_ctes()]
    parts.append(
        f"qc AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < {nq})"
    )
    for m in S29_FILTER_MODS:
        parts.append(_fann_exf_cte(m, nq))
    beams = sorted({b for _, _, b in _s29_cells()})
    for b in beams:
        block, _pool = _fann_pool_cte_block(b, "_p")
        parts.extend(block)
    rows = []
    for m, w, b in _s29_cells():
        suf = f"_{m}_{w}"
        ctes, beam_res = _hnsw_descent_ctes(
            b, suf, pred=f"{{q}} % {m} = {{c}} % {m}"
        )
        parts.append(ctes)
        parts.append(
            f"""rt{suf} AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, cid) AS rk
            FROM pool_p{b} WHERE qid % {m} = cid % {m})
          WHERE rk <= {K})"""
        )
        for strat, res_cte in (("beam", beam_res), ("route", f"rt{suf}")):
            ss = f"{suf}_{strat}"
            parts.append(
                f"""np{ss} AS (
          SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_possible
          FROM exf{m} GROUP BY qid)"""
            )
            parts.append(
                f"""ph{ss} AS (
          SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM exf{m} e JOIN {res_cte} r
            ON r.qid = e.qid AND r.cid = e.cid
          GROUP BY e.qid)"""
            )
            parts.append(
                f"""kp{ss} AS (
          SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_kept
          FROM {res_cte} GROUP BY qid)"""
            )
            rows.append(
                f"""SELECT CAST({m} AS BIGINT) AS filter_mod,
                 CAST({w} AS BIGINT) AS widen,
                 CAST({b} AS BIGINT) AS beam,
                 '{strat}' AS strategy,
                 CASE WHEN 1.0 / {m} <= {similarity.FILTERED_ANN_PRE_MAX}
                        THEN 'pre'
                      WHEN {b} * (1.0 / {m}) >= {K} THEN 'beam'
                      ELSE 'route' END AS auto_strategy,
                 qc.qid AS qid,
                 CAST(COALESCE(kp.n_kept, 0) AS BIGINT) AS n_kept,
                 CAST(COALESCE(ph.n_hits, 0) AS BIGINT) AS n_hits,
                 CAST(COALESCE(np.n_possible, 0) AS BIGINT) AS n_possible,
                 CASE WHEN COALESCE(np.n_possible, 0) > 0 THEN
                   CAST(COALESCE(ph.n_hits, 0) AS DOUBLE)
                     / CAST(np.n_possible AS DOUBLE) END AS recall
          FROM qc
          LEFT JOIN np{ss} np ON np.qid = qc.qid
          LEFT JOIN ph{ss} ph ON ph.qid = qc.qid
          LEFT JOIN kp{ss} kp ON kp.qid = qc.qid"""
            )
    body = " UNION ALL ".join(f"({r})" for r in rows)
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f" SELECT * FROM ({body}) ORDER BY filter_mod, widen, strategy, qid"
    )


def _s32_oracle() -> str:
    """Twin of s32_filtered_ann_auto: the SQL formula replays the
    policy (divergence from the Spark-side scalar call = driver hash
    mismatch on the strategy column) and the matching machinery is
    assembled per cell — s28's predicate-pushed IVF twin for 'pre'
    cells, _hnsw_descent_ctes with ``pred`` for 'beam' cells, the
    pooled sc_* union cut for 'route' cells — against the same exact
    same-tenant truth and cohort coverage as the s29 twin."""
    nq = ANN_NQ
    cells = _s29_cells()
    choices = {
        (m, w, b): similarity.filtered_ann_strategy(1.0 / m, K, b)
        for m, w, b in cells
    }
    parts = [_hnsw_shared_ctes()]
    parts.append(
        f"qc AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < {nq})"
    )
    for m in sorted({m for m, _, _ in cells}):
        parts.append(_fann_exf_cte(m, nq))
    for b in sorted({b for (m, w, b), s in choices.items() if s == "route"}):
        block, _pool = _fann_pool_cte_block(b, "_ap")
        parts.extend(block)
    for m, b in sorted(
        {(m, b) for (m, w, b), s in choices.items() if s == "beam"}
    ):
        ctes, beam_res = _hnsw_descent_ctes(
            b, f"_ab{m}_{b}", pred=f"{{q}} % {m} = {{c}} % {m}"
        )
        parts.append(ctes)
        parts.append(f"bres_{m}_{b} AS (SELECT qid, cid FROM {beam_res})")
    for m in sorted({m for (m, w, b), s in choices.items() if s == "pre"}):
        pre_twin = _s4_oracle(nq, 3, pred=f"AND q.qid % {m} = c.cid % {m}")
        parts.append(f"pre{m} AS (SELECT qid, cid FROM ({pre_twin}))")
    rows = []
    for m, w, b in cells:
        strat = choices[(m, w, b)]
        suf = f"a_{m}_{w}"
        if strat == "pre":
            res_cte = f"pre{m}"
        elif strat == "beam":
            res_cte = f"bres_{m}_{b}"
        else:
            parts.append(
                f"""rt{suf} AS (
          SELECT qid, cid FROM (
            SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, cid) AS rk
            FROM pool_ap{b} WHERE qid % {m} = cid % {m})
          WHERE rk <= {K})"""
            )
            res_cte = f"rt{suf}"
        parts.append(
            f"""np{suf} AS (
          SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_possible
          FROM exf{m} GROUP BY qid)"""
        )
        parts.append(
            f"""ph{suf} AS (
          SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM exf{m} e JOIN {res_cte} r
            ON r.qid = e.qid AND r.cid = e.cid
          GROUP BY e.qid)"""
        )
        parts.append(
            f"""kp{suf} AS (
          SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_kept
          FROM {res_cte} GROUP BY qid)"""
        )
        rows.append(
            f"""SELECT CAST({m} AS BIGINT) AS filter_mod,
                 CAST({w} AS BIGINT) AS widen,
                 CAST({b} AS BIGINT) AS beam,
                 CASE WHEN 1.0 / {m} <= {similarity.FILTERED_ANN_PRE_MAX}
                        THEN 'pre'
                      WHEN {b} * (1.0 / {m}) >= {K} THEN 'beam'
                      ELSE 'route' END AS strategy,
                 qc.qid AS qid,
                 CAST(COALESCE(kp.n_kept, 0) AS BIGINT) AS n_kept,
                 CAST(COALESCE(ph.n_hits, 0) AS BIGINT) AS n_hits,
                 CAST(COALESCE(np.n_possible, 0) AS BIGINT) AS n_possible,
                 CASE WHEN COALESCE(np.n_possible, 0) > 0 THEN
                   CAST(COALESCE(ph.n_hits, 0) AS DOUBLE)
                     / CAST(np.n_possible AS DOUBLE) END AS recall
          FROM qc
          LEFT JOIN np{suf} np ON np.qid = qc.qid
          LEFT JOIN ph{suf} ph ON ph.qid = qc.qid
          LEFT JOIN kp{suf} kp ON kp.qid = qc.qid"""
        )
    body = " UNION ALL ".join(f"({r})" for r in rows)
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f" SELECT * FROM ({body}) ORDER BY filter_mod, widen, qid"
    )


_SUBDOT = (
    "list_reduce(list_transform(range(1, {d}), i -> {{a}}[i] * {{b}}[i]),"
    " (acc, x) -> acc + x)"
).format(d=similarity.PQ_SUBDIM + 1)


def _s8_oracle(nq: int = 20) -> str:
    """Twin of pq_ann: identical sign-cell codes per subspace,
    identical down-shifted exact-int codebook sums (>> is arithmetic
    shift in both engines, so negatives floor the same way),
    identical int64 LUT/ADC scores, identical exact-cosine re-rank."""
    m, sd, bits = similarity.PQ_M, similarity.PQ_SUBDIM, similarity.PQ_BITS
    shift = similarity.pq_shift(_oracle_emb_rows())
    code = " + ".join(
        f"(CASE WHEN subv[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        b AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM base),
        subs AS (
          SELECT vec_id, s.sub AS sub,
                 list_slice(sv, s.sub * {sd} + 1, s.sub * {sd} + {sd}) AS subv
          FROM base CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) s),
        coded AS (
          SELECT vec_id, sub, subv, ({code}) AS code FROM subs),
        ex AS (
          SELECT sub, code, CAST(generate_subscripts(subv, 1) AS INT) AS dim,
                 unnest(subv) AS sx
          FROM coded),
        cbd AS (
          SELECT sub, code, dim, CAST(SUM(sx) AS BIGINT) >> {shift} AS cs
          FROM ex GROUP BY sub, code, dim),
        cb AS (
          SELECT sub, code, list(cs ORDER BY dim) AS cv
          FROM cbd GROUP BY sub, code),
        lut AS (
          SELECT q.vec_id AS qid, q.sub, c.code,
                 {_SUBDOT.format(a='q.subv', b='c.cv')} AS part
          FROM coded q JOIN cb c ON q.sub = c.sub
          WHERE q.vec_id < {nq}),
        adc AS (
          SELECT l.qid, d.vec_id AS cid, CAST(SUM(l.part) AS BIGINT) AS adc
          FROM coded d JOIN lut l ON d.sub = l.sub AND d.code = l.code
          WHERE l.qid <> d.vec_id
          GROUP BY l.qid, d.vec_id),
        sl AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS ark
          FROM adc),
        rescored AS (
          SELECT s.qid, s.cid, s.adc,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM sl s JOIN b q ON q.vec_id = s.qid JOIN b c ON c.vec_id = s.cid
          WHERE s.ark <= {similarity.PQ_SHORTLIST})
        SELECT qid, rk, cid, cosine, adc FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rk
          FROM rescored)
        WHERE rk <= {K}
        ORDER BY qid, rk
    """


def _ivfpq_adc_ctes(nq: int, nprobe: int) -> str:
    """Shared CTE chain of the IVF-ADC twins, ending at ``adc``
    (qid, cid, adc) — mirrors similarity.ivfpq_adc: _ivf_prefix's cell
    assignment restricts the (qid, cid) pair list and _s8_oracle's
    codebook/LUT scores only those pairs (PQ-side CTEs renamed where
    they would collide with the IVF prefix). s19 emits one shortlist
    cut over it; s20 emits one cut per budget over the SAME chain."""
    m, sd, bits = similarity.PQ_M, similarity.PQ_SUBDIM, similarity.PQ_BITS
    shift = similarity.pq_shift(_oracle_emb_rows())
    code = " + ".join(
        f"(CASE WHEN subv[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""{_ivf_prefix()},
        assigned AS (
          SELECT vec_id AS cid, cell FROM ranked WHERE ark = 1),
        probes AS (
          SELECT vec_id AS qid, cell FROM ranked
          WHERE ark <= {nprobe} AND vec_id < {nq}),
        prs AS (
          SELECT p.qid, a.cid FROM probes p JOIN assigned a USING (cell)
          WHERE p.qid <> a.cid),
        subs AS (
          SELECT vec_id, s.sub AS sub,
                 list_slice(sv, s.sub * {sd} + 1, s.sub * {sd} + {sd}) AS subv
          FROM base CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) s),
        coded AS (
          SELECT vec_id, sub, subv, ({code}) AS code FROM subs),
        px AS (
          SELECT sub, code, CAST(generate_subscripts(subv, 1) AS INT) AS dim,
                 unnest(subv) AS sx
          FROM coded),
        cbd AS (
          SELECT sub, code, dim, CAST(SUM(sx) AS BIGINT) >> {shift} AS cs
          FROM px GROUP BY sub, code, dim),
        cb AS (
          SELECT sub, code, list(cs ORDER BY dim) AS cv
          FROM cbd GROUP BY sub, code),
        lut AS (
          SELECT q.vec_id AS qid, q.sub, c.code,
                 {_SUBDOT.format(a='q.subv', b='c.cv')} AS part
          FROM coded q JOIN cb c ON q.sub = c.sub
          WHERE q.vec_id < {nq}),
        adc AS (
          SELECT l.qid, d.vec_id AS cid, CAST(SUM(l.part) AS BIGINT) AS adc
          FROM coded d
          JOIN prs pr ON pr.cid = d.vec_id
          JOIN lut l ON d.sub = l.sub AND d.code = l.code AND l.qid = pr.qid
          GROUP BY l.qid, d.vec_id)"""


def _ivfpq_cut_ctes(sl: int, tag: str = "") -> str:
    """The shortlist cut + exact re-rank as CTEs ``cut{tag}`` →
    ``res{tag}`` over the shared ``adc``/``b`` relations."""
    return f"""cut{tag} AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS ark
          FROM adc),
        res{tag} AS (
          SELECT s.qid, s.cid, s.adc,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine,
                 CAST(ROW_NUMBER() OVER (PARTITION BY s.qid
                        ORDER BY round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                          / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) DESC,
                        s.cid) AS BIGINT) AS rk
          FROM cut{tag} s
          JOIN b q ON q.vec_id = s.qid JOIN b c ON c.vec_id = s.cid
          WHERE s.ark <= {sl})"""


def _s19_oracle(nq: int = 20, nprobe: int = 3, sl: int | None = None) -> str:
    """Twin of ivfpq_ann: the shared ADC chain + one shortlist cut."""
    if sl is None:
        sl = similarity.PQ_SHORTLIST
    return f"""
        WITH {_ivfpq_adc_ctes(nq, nprobe)},
        {_ivfpq_cut_ctes(sl)}
        SELECT qid, rk, cid, cosine, adc FROM res
        WHERE rk <= {K}
        ORDER BY qid, rk
    """


def _s20_oracle() -> str:
    """Twin of the PQ shortlist sweep: ONE instantiation of the shared
    ADC chain, one cut per budget, hit-joined against the exact twin
    (the per-budget full-rebuild form was flagged in the r8 review —
    the shortlist only cuts after ADC scoring, in SQL too)."""
    nq = ANN_NQ
    cuts = ",\n        ".join(
        _ivfpq_cut_ctes(sl_, f"_{sl_}") for sl_ in PQ_SL_SWEEP
    )
    hits = "\n          UNION ALL\n".join(
        f"""          SELECT CAST({sl_} AS BIGINT) AS shortlist,
                 CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM (SELECT qid, cid FROM res_{sl_} WHERE rk <= {K}) a
          JOIN exact e ON a.qid = e.qid AND a.cid = e.cid"""
        for sl_ in PQ_SL_SWEEP
    )
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        {_ivfpq_adc_ctes(nq, 3)},
        {cuts},
        h AS (
{hits})
        SELECT shortlist, n_hits,
               CAST({nq * K} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({nq * K} AS DOUBLE) AS recall
        FROM h ORDER BY shortlist
    """


def _s9_ctes() -> str:
    """The k-means fit as a CTE chain ending at ``as2`` (vec_id, cell,
    a) — shared by the s9 twin and s10's balanced-selection twin (ONE
    source of truth for the fit)."""
    k, rounds = similarity.KMEANS_K, similarity.KMEANS_ROUNDS
    assert rounds == 2, "twin is written for exactly 2 Lloyd rounds"
    aff = (
        f"{_DDOT.format(a='v.sv', b='c.cv')}"
        " / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt("
        + _DDOT.format(a="c.cv", b="c.cv")
        + "))"
    )
    return f"""base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        b AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM base),
        c0 AS (
          SELECT vec_id AS cell, sv AS cv FROM base WHERE vec_id < {k}),
        a1 AS (
          SELECT v.vec_id, v.sv, v.nrm, c.cell, {aff} AS a
          FROM b v CROSS JOIN c0 c),
        as1 AS (
          SELECT vec_id, sv, nrm, cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY a DESC, cell) AS rk
            FROM a1) WHERE rk = 1),
        ex1 AS (
          SELECT cell, CAST(generate_subscripts(sv, 1) AS INT) AS dim,
                 unnest(sv) AS sx
          FROM as1),
        cd1 AS (
          SELECT cell, dim, CAST(SUM(sx) AS BIGINT) AS cs
          FROM ex1 GROUP BY cell, dim),
        c1 AS (
          SELECT cell, list(cs ORDER BY dim) AS cv FROM cd1 GROUP BY cell),
        a2 AS (
          SELECT v.vec_id, v.nrm, c.cell, {aff} AS a
          FROM b v CROSS JOIN c1 c),
        as2 AS (
          SELECT vec_id, cell, a FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY a DESC, cell) AS rk
            FROM a2) WHERE rk = 1)"""


def _s9_oracle() -> str:
    """Twin of kmeans_refine (k=10, 2 rounds): seed centroids are the
    raw scaled vectors of vec_id < k; round-2 centroids are exact-int
    per-dim member sums; assignment = max double-fold affinity with
    cell tiebreak — every piece already proven exact by the s4/s7
    twins."""
    return f"""
        WITH {_s9_ctes()}
        SELECT vec_id, cell, round(a, 9) AS affinity,
               COUNT(*) OVER (PARTITION BY cell) AS cluster_size
        FROM as2 ORDER BY vec_id
    """


def _s10_oracle() -> str:
    """Twin of s10_cluster_balance: the s9 fit CTEs verbatim, then the
    same one-shot quota (budget div k_active, capped at cluster size)
    filled in Knuth-hash order — all-integer, engine-identical."""
    from ..operators import sampling

    return f"""
        WITH {_s9_ctes()},
        fit AS (
          SELECT vec_id, cell,
                 COUNT(*) OVER (PARTITION BY cell) AS cluster_size
          FROM as2),
        ka AS (
          SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) AS k_active
          FROM fit),
        q AS (
          SELECT f.vec_id, f.cell, f.cluster_size,
                 least(f.cluster_size,
                       CAST({BALANCE_BUDGET} // k_active AS BIGINT)) AS quota,
                 CAST(ROW_NUMBER() OVER (PARTITION BY f.cell
                      ORDER BY {sampling.sql_bucket('f.vec_id')}, f.vec_id)
                   AS BIGINT) AS pick_rank
          FROM fit f, ka)
        SELECT vec_id, cell, cluster_size, quota, pick_rank
        FROM q WHERE pick_rank <= quota ORDER BY vec_id
    """


def _s11_oracle(where: str = "", n_members: int | None = None) -> str:
    """Twin of knn_graph: _s3_oracle's bucket/probe/scoring SQL with
    the query filter removed (ALL vectors probe) — same adaptive plane
    count, same exact-int cosine, same (cosine desc, cid) top-K.
    ``where``/``n_members`` restrict it to a member subset (s22's
    level-1 graph: the plane count adapts to the LEVEL size)."""
    n_planes = similarity.adaptive_planes(
        n_members if n_members is not None else _oracle_emb_rows()
    )
    ann_planes = similarity.lsh_planes(n_planes)

    bucket = " + ".join(
        f"(CASE WHEN {_plane_dot('sv', ann_planes[j])} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_planes)]
    )
    return f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings {where}),
        b AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm,
                 {bucket} AS bucket
          FROM base),
        qp AS (
          SELECT vec_id, sv, nrm, unnest([{probe_list}]) AS bucket
          FROM b),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM qp q JOIN b c
            ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        SELECT qid, rk, cid, cosine FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= {K}
        ORDER BY qid, rk
    """


def _s27_oracle() -> str:
    """Twin of s27_graph_churn: the FROM-SCRATCH exact top-k over the
    final pool (members at the churn_modulus demo grain, minus the
    retracted j = 2 cohort — the late j = 3 cohort is back in after
    its ingest). The Spark side runs retract-repair + ingest-merge
    over the initial graph; equality with this rebuild IS the
    maintenance invariant."""
    n = _oracle_emb_rows()
    mod = similarity.churn_modulus(max(n, 1))  # empty gate catalog
    return f"""
        WITH base AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings
          WHERE vec_id % {mod} = 0 AND ((vec_id // {mod}) % 5) <> 2),
        normed AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM base),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM normed q JOIN normed c ON q.vec_id <> c.vec_id)
        SELECT qid, rk, cid, cosine FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= {K}
        ORDER BY qid, rk
    """


def _s12_oracle() -> str:
    """Twin of s12_graph_recall: the exact-top-k twin LEFT JOINed to
    the s11 graph twin, counted per query vector — same nq=20 cohort
    and exact-int discipline as s6."""
    nq = 20
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        gq AS ({_s11_oracle()}),
        hits AS (
          SELECT e.qid, CAST(COUNT(g.cid) AS BIGINT) AS n_hits
          FROM exact e LEFT JOIN gq g ON g.qid = e.qid AND g.cid = e.cid
          GROUP BY e.qid)
        SELECT qid, n_hits, CAST({K} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({K} AS DOUBLE) AS recall
        FROM hits ORDER BY qid
    """


def _nnd_round_ctes(src: str, out: str) -> str:
    """CTE chunk expanding edge table ``src`` by one NN-descent round
    into ``out`` (requires a ``vbn`` CTE with vec_id/sv/nrm in scope):
    the exact SQL replay of operators/similarity.py::nn_descent_round
    — neighbor-of-neighbor candidates, exact-int cosine re-rank, same
    (cosine desc, cid) top-K order."""
    return f"""non_{out} AS (
          SELECT a.qid, b.cid FROM {src} a JOIN {src} b ON b.qid = a.cid
          WHERE a.qid <> b.cid),
        cand_{out} AS (
          SELECT DISTINCT qid, cid FROM (
            SELECT qid, cid FROM {src}
            UNION ALL SELECT qid, cid FROM non_{out})),
        sc_{out} AS (
          SELECT cand.qid, cand.cid,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9)
                   AS cosine
          FROM cand_{out} cand
          JOIN vbn q ON q.vec_id = cand.qid
          JOIN vbn c ON c.vec_id = cand.cid),
        {out} AS (
          SELECT qid, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, cid) AS rk
            FROM sc_{out})
          WHERE rk <= {K})"""


def _s21_oracle() -> str:
    """Twin of s21_nn_descent_converge: the s11 graph twin expanded
    by TWO NN-descent rounds (g0 -> g1 -> g2 via _nnd_round_ctes),
    then per-round cohort hit counts, full-graph edge diffs, and the
    same declarative early-stop filter (round 2 reported only if
    round 1 changed edges)."""
    nq = ANN_NQ
    npos = nq * K
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        g0 AS (SELECT qid, cid FROM ({_s11_oracle()})),
        vb AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        vbn AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM vb),
        {_nnd_round_ctes('g0', 'g1')},
        {_nnd_round_ctes('g1', 'g2')},
        hits AS (
          SELECT CAST(0 AS BIGINT) AS round, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM exact e JOIN g0 g ON g.qid = e.qid AND g.cid = e.cid
          UNION ALL
          SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT)
          FROM exact e JOIN g1 g ON g.qid = e.qid AND g.cid = e.cid
          UNION ALL
          SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT)
          FROM exact e JOIN g2 g ON g.qid = e.qid AND g.cid = e.cid),
        ec AS (
          SELECT CAST(1 AS BIGINT) AS round,
                 CAST(COUNT(*) AS BIGINT) AS edges_changed
          FROM g1 WHERE NOT EXISTS (
            SELECT 1 FROM g0 WHERE g0.qid = g1.qid AND g0.cid = g1.cid)
          UNION ALL
          SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT)
          FROM g2 WHERE NOT EXISTS (
            SELECT 1 FROM g1 WHERE g1.qid = g2.qid AND g1.cid = g2.cid))
        SELECT h.round, h.n_hits, CAST({npos} AS BIGINT) AS n_possible,
               CAST(h.n_hits AS DOUBLE) / CAST({npos} AS DOUBLE) AS recall,
               h.n_hits - p.n_hits AS hits_delta,
               e.edges_changed,
               e.edges_changed = 0 AS converged
        FROM hits h
        JOIN hits p ON p.round = h.round - 1
        JOIN ec e ON e.round = h.round
        LEFT JOIN ec pe ON pe.round = h.round - 1
        WHERE h.round >= 1 AND (h.round = 1 OR pe.edges_changed > 0)
        ORDER BY h.round
    """


def _hnsw_rerank_ctes(cand: str, out: str, width: int) -> str:
    """CTE chunk: exact-int re-rank of candidate table ``cand`` into
    top-``width`` table ``out`` (requires a ``vbn`` CTE in scope)."""
    cosexpr = (
        f"round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)"
        " / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9)"
    )
    return f"""sc_{out} AS (
          SELECT cand.qid, cand.cid, {cosexpr} AS cosine
          FROM {cand} cand
          JOIN vbn q ON q.vec_id = cand.qid
          JOIN vbn c ON c.vec_id = cand.cid),
        {out} AS (
          SELECT qid, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, cid) AS rk
            FROM sc_{out})
          WHERE rk <= {width})"""


def _hnsw_expand_ctes(
    beam_cte: str, graph_cte: str, out: str, pred: str = ""
) -> str:
    """CTE chunk: descent-hop candidates = beam ∪ graph neighbors of
    the beam, self-matches dropped. ``pred`` (a template over {q}/{c}
    vertex ids) is the filtered-beam predicate — the expansion walks
    the unfiltered graph, the filter prunes candidates before the
    re-rank (hnsw_descent's ``keep`` twin)."""
    extra = f" AND {pred.format(q='qid', c='cid')}" if pred else ""
    return f"""cand_{out} AS (
          SELECT DISTINCT qid, cid FROM (
            SELECT qid, cid FROM {beam_cte}
            UNION ALL
            SELECT b.qid, g.cid FROM {beam_cte} b
            JOIN {graph_cte} g ON g.qid = b.cid)
          WHERE qid <> cid{extra})"""


def _hnsw_descent_ctes(
    beam: int,
    suf: str,
    graphs: tuple[str, ...] = ("gl1", "gl0"),
    entry_mod: int = HNSW_L2_MOD,
    pred: str = "",
) -> tuple[str, str]:
    """The full layered descent for one beam width as a CTE chain
    (entry scan → one expand+rerank hop per graph CTE in ``graphs``,
    ordered top level → level 0 — the SQL replay of hnsw_descent's
    arbitrary level list); returns (ctes, final_cte_name). Requires
    exact/vbn and every named graph CTE in scope. ``pred`` (template
    over {q}/{c}) replays the filtered-beam descent — applied at the
    entry scan and before every hop's re-rank, exactly where
    hnsw_descent applies ``keep``."""
    nq = ANN_NQ
    ent_extra = (
        f" AND {pred.format(q='q.vec_id', c='c.vec_id')}" if pred else ""
    )
    parts = [
        f"""ent_cand{suf} AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid
          FROM vbn q JOIN vbn c
            ON c.vec_id % {entry_mod} = 0 AND c.vec_id <> q.vec_id
          WHERE q.vec_id < {nq}{ent_extra})""",
        _hnsw_rerank_ctes(f"ent_cand{suf}", f"bent{suf}", beam),
    ]
    prev = f"bent{suf}"
    for i, g in enumerate(graphs):
        last = i == len(graphs) - 1
        out = f"res{suf}" if last else f"b{len(graphs) - 1 - i}{suf}"
        parts.append(_hnsw_expand_ctes(prev, g, out, pred=pred))
        parts.append(_hnsw_rerank_ctes(f"cand_{out}", out, K if last else beam))
        prev = out
    return ",\n        ".join(parts), f"res{suf}"


def _hnsw_shared_ctes(
    levels: int = 2, mods: tuple[int, ...] | None = None
) -> str:
    """exact truth + scaled-vector base + the level-graph twins — the
    WITH prefix every HNSW twin shares. gl0 is the CONVERGED second
    NN-descent generation (the raw s11 graph twin expanded by two
    _nnd_round_ctes rounds — exactly the graph_nnd2 deposit chain the
    Spark side serves since r10: build → refine → serve).
    ``levels=3`` adds gl2, the kNN-graph twin over the
    vec_id % HNSW_L2_MOD member set (s24's 3-level ladder); ``mods``
    overrides the rung moduli outright (s26's formula-derived ladder:
    one gl{i} twin per modulus, each the s11 machinery over its own
    member set with the LEVEL-sized plane count — the same generality
    _graph_level has on the Spark side)."""
    nq = ANN_NQ
    n = _oracle_emb_rows()  # loud fallback on footer failure
    if mods is None:
        mods = tuple(similarity.HNSW_BRANCHING**i for i in range(1, levels))
    parts = [
        f"exact AS ({_s1_sql(nq)})",
        f"""vb AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings)""",
        f"""vbn AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM vb)""",
        f"g0raw AS (SELECT qid, cid FROM ({_s11_oracle()}))",
        _nnd_round_ctes("g0raw", "g0r1"),
        _nnd_round_ctes("g0r1", "gl0"),
    ]
    for i, mod in enumerate(mods, start=1):
        parts.append(
            f"""gl{i} AS (SELECT qid, cid FROM (
          {_s11_oracle(f"WHERE vec_id % {mod} = 0", _lvl_count(n, mod))}))"""
        )
    return ",\n        ".join(parts)


def _hnsw_per_vec_sql(
    shared: str, descent: str, res: str, extra_cols: str = ""
) -> str:
    """Per-vector recall tail over one descent chain — the SQL twin of
    _per_vec_recall, shared by the s22/s24/s26 oracles. ``extra_cols``
    appends constant geometry columns (s26 pins its derived ladder)."""
    return f"""
        WITH {shared},
        {descent},
        hits AS (
          SELECT e.qid, CAST(COUNT(r.cid) AS BIGINT) AS n_hits
          FROM exact e LEFT JOIN {res} r ON r.qid = e.qid AND r.cid = e.cid
          GROUP BY e.qid)
        SELECT qid, n_hits, CAST({K} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({K} AS DOUBLE) AS recall{extra_cols}
        FROM hits ORDER BY qid
    """


def _s22_oracle() -> str:
    """Twin of s22_hnsw_ann: the full layered descent replayed in SQL
    — exact entry scan of the level-2 members, beam expansion through
    the level-1 graph twin (the s11 machinery restricted to
    vec_id % HNSW_L1_MOD = 0 with the LEVEL-sized plane count) and
    the REFINED level-0 twin (the s11 twin expanded by two NN-descent
    rounds — the graph_nnd2 chain), each hop an exact-int re-rank
    under the (cosine desc, cid) total order, then per-vector hit
    counts."""
    descent, res = _hnsw_descent_ctes(HNSW_BEAM, "")
    return _hnsw_per_vec_sql(_hnsw_shared_ctes(), descent, res)


def _s24_oracle() -> str:
    """Twin of s24_hnsw_multilevel: the 3-level descent replayed in
    SQL — the shared prefix gains the gl2 graph twin (s11 machinery
    over the vec_id % HNSW_L2_MOD members) and the chain gains one
    more expand+rerank hop; everything else is mechanically the same
    CTE builders as s22's twin, which is the generalization proof on
    the oracle side too."""
    descent, res = _hnsw_descent_ctes(
        HNSW_BEAM, "", graphs=("gl2", "gl1", "gl0"), entry_mod=HNSW_L3_MOD
    )
    return _hnsw_per_vec_sql(_hnsw_shared_ctes(levels=3), descent, res)


def _s26_oracle() -> str:
    """Twin of s26_hnsw_adaptive: derive the SAME ladder moduli from
    the SAME corpus count (hnsw_ladder_moduli over the gate catalog's
    footer row count), emit one gl{i} graph twin per derived modulus,
    run the descent chain with the derived entry modulus, and pin the
    chosen geometry as constant columns — so an engine disagreement
    about ladder DEPTH surfaces as a hash mismatch, not as two
    different indexes being silently compared."""
    n = _oracle_emb_rows()
    mods = similarity.hnsw_ladder_moduli(max(n, 1))  # empty gate catalog
    entry_mod = similarity.HNSW_BRANCHING * mods[-1]
    graphs = tuple(f"gl{i}" for i in range(len(mods), 0, -1)) + ("gl0",)
    descent, res = _hnsw_descent_ctes(
        HNSW_BEAM, "", graphs=graphs, entry_mod=entry_mod
    )
    extra = (
        f",\n               CAST({len(mods) + 1} AS BIGINT) AS ladder_levels"
        f",\n               CAST({entry_mod} AS BIGINT) AS entry_mod"
    )
    return _hnsw_per_vec_sql(
        _hnsw_shared_ctes(mods=tuple(mods)), descent, res, extra_cols=extra
    )


def _s23_oracle() -> str:
    """Twin of s23_hnsw_beam_sweep: one descent chain per beam width
    over the SAME shared exact/gl0/gl1/vbn prefix, cohort hit totals
    per beam — the same composition discipline as _s17_oracle's
    probe sweep."""
    nq = ANN_NQ
    npos = nq * K
    chains, hit_rows = [], []
    for b in HNSW_BEAM_SWEEP:
        ctes, res = _hnsw_descent_ctes(b, f"_w{b}")
        chains.append(ctes)
        hit_rows.append(
            f"""          SELECT CAST({b} AS BIGINT) AS beam,
                 CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM {res} r JOIN exact e ON e.qid = r.qid AND e.cid = r.cid"""
        )
    chain_sql = ",\n        ".join(chains)
    hits_sql = "\n          UNION ALL\n".join(hit_rows)
    return f"""
        WITH {_hnsw_shared_ctes()},
        {chain_sql},
        h AS (
{hits_sql})
        SELECT beam, n_hits, CAST({npos} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({npos} AS DOUBLE) AS recall
        FROM h ORDER BY beam
    """


def _s25_oracle() -> str:
    """Twin of s25_int8_recall: the s5 quantizer replayed in SQL
    (same exact-int round-half-away q), brute-force cosine top-k over
    the int8 codes, per-vector hit counts vs the exact twin."""
    nq = ANN_NQ
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        x AS (
          SELECT vec_id, list_transform(embedding,
            v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS xi
          FROM embeddings),
        mm AS (
          SELECT vec_id, xi,
                 greatest(list_aggregate(xi, 'max'),
                          -list_aggregate(xi, 'min')) AS m
          FROM x),
        q8 AS (
          SELECT vec_id,
                 list_transform(xi, v -> CASE WHEN v >= 0
                   THEN (2*127*v + m) // (2*m)
                   ELSE -((2*127*(-v) + m) // (2*m)) END) AS sv
          FROM mm WHERE m > 0),
        b AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM q8),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(CAST({_DOT.format(a='q.sv', b='c.sv')} AS DOUBLE)
                   / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))), 9) AS cosine
          FROM b q JOIN b c ON q.vec_id < {nq} AND c.vec_id <> q.vec_id),
        res AS (
          SELECT qid, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY cosine DESC, cid) AS rk
            FROM scored) WHERE rk <= {K}),
        hits AS (
          SELECT e.qid, CAST(COUNT(r.cid) AS BIGINT) AS n_hits
          FROM exact e LEFT JOIN res r ON r.qid = e.qid AND r.cid = e.cid
          GROUP BY e.qid)
        SELECT qid, n_hits, CAST({K} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({K} AS DOUBLE) AS recall
        FROM hits ORDER BY qid
    """


def _s18_oracle() -> str:
    """Twin of s18_nn_descent: the s11 graph twin expanded by one
    neighbor-of-neighbor round, exact-int re-ranked with the same
    (cosine desc, cid) order, hit-counted per query vector beside the
    unrefined graph's hits — the full refinement verified in SQL."""
    nq = ANN_NQ
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        g AS ({_s11_oracle()}),
        vb AS (
          SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        vbn AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM vb),
        {_nnd_round_ctes('g', 'ref')},
        bh AS (
          SELECT e.qid, CAST(COUNT(g.cid) AS BIGINT) AS bh
          FROM exact e LEFT JOIN g ON g.qid = e.qid AND g.cid = e.cid
          GROUP BY e.qid),
        rh AS (
          SELECT e.qid, CAST(COUNT(r.cid) AS BIGINT) AS rh
          FROM exact e LEFT JOIN ref r ON r.qid = e.qid AND r.cid = e.cid
          GROUP BY e.qid)
        SELECT bh.qid, bh.bh AS base_hits, rh.rh AS refined_hits,
               CAST({K} AS BIGINT) AS n_possible,
               CAST(rh.rh AS DOUBLE) / CAST({K} AS DOUBLE) AS refined_recall
        FROM bh JOIN rh ON rh.qid = bh.qid
        ORDER BY bh.qid
    """


def _s6_oracle() -> str:
    """Twin of the recall harness: every index twin is deterministic,
    so the whole evaluation composes in SQL (nested-WITH CTEs)."""
    nq = 20
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        ivfq AS ({_s4_oracle(nq)}),
        lshq AS ({_s3_oracle()}),
        pqq AS ({_s8_oracle(nq)}),
        h AS (
          SELECT 'ivf' AS idx, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM ivfq a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid
          UNION ALL
          SELECT 'lsh', CAST(COUNT(*) AS BIGINT)
          FROM lshq a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid
          UNION ALL
          SELECT 'pq', CAST(COUNT(*) AS BIGINT)
          FROM pqq a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid)
        SELECT idx AS "index", n_hits,
               CAST({nq * K} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({nq * K} AS DOUBLE) AS recall
        FROM h ORDER BY "index"
    """


def _s17_oracle() -> str:
    """Twin of the IVF probe sweep: one _s4_oracle instantiation per
    probe budget (each bit-exact per the s4 twin), hit-joined against
    the exact twin — the same composition discipline as _s6_oracle."""
    nq = ANN_NQ
    subs = ",\n        ".join(
        f"np{np_} AS ({_s4_oracle(nq, np_)})" for np_ in IVF_SWEEP
    )
    hits = "\n          UNION ALL\n".join(
        f"""          SELECT CAST({np_} AS BIGINT) AS nprobe,
                 CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM np{np_} a JOIN exact e ON a.qid = e.qid AND a.cid = e.cid"""
        for np_ in IVF_SWEEP
    )
    return f"""
        WITH exact AS ({_s1_sql(nq)}),
        {subs},
        h AS (
{hits})
        SELECT nprobe, n_hits,
               CAST({nq * K} AS BIGINT) AS n_possible,
               CAST(n_hits AS DOUBLE) / CAST({nq * K} AS DOUBLE) AS recall
        FROM h ORDER BY nprobe
    """


def _s7_oracle(threshold: float = SEMDEDUP_THRESHOLD, max_cell: int = 256) -> str:
    """Twin of semdedup: identical cell assignment (IVF prefix), the
    same integer-exact re-split of oversized cells (eb = unrolled
    comparison chain = ceil(log2(ceil(pop/max_cell))), ±1 split-plane
    sign bits), greedy order = ascending affinity with vec_id tiebreak,
    and the prior-triangle max — ``max_prior_cos`` is the max
    int-cosine to ANY earlier member in greedy order (kept or
    dropped), NULL for the (sub)cell leader. ``kept`` follows:
    NULL >= t is NULL → ELSE TRUE."""
    cos = (
        f"round(CAST({_DOT.format(a='x.sv', b='y.sv')} AS DOUBLE)"
        " / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))), 9)"
    )
    msb = similarity.SEMDEDUP_MAX_SPLIT_BITS
    sp = similarity._split_planes(msb)
    eb_expr = " + ".join(
        f"(CASE WHEN m > {1 << i} THEN 1 ELSE 0 END)" for i in range(msb)
    )

    subcell = " + ".join(
        f"(CASE WHEN {i} < e.eb AND {_plane_dot('g.sv', sp[i])} >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(msb)
    )
    return f"""
        WITH {_ivf_prefix()},
        assigned AS (
          SELECT vec_id, sv, nrm, CAST(cell AS BIGINT) AS cell, a
          FROM ranked WHERE ark = 1),
        pops AS (
          SELECT cell, (COUNT(*) + {max_cell - 1}) // {max_cell} AS m
          FROM assigned GROUP BY cell),
        ebs AS (
          SELECT cell, {eb_expr} AS eb FROM pops),
        refined AS (
          SELECT g.vec_id, g.sv, g.nrm, g.cell, g.a,
                 CAST({subcell} AS BIGINT) AS subcell
          FROM assigned g JOIN ebs e ON g.cell = e.cell),
        ordered AS (
          SELECT vec_id, sv, nrm, cell, subcell,
                 CAST(ROW_NUMBER() OVER (PARTITION BY cell, subcell ORDER BY a ASC, vec_id) AS BIGINT) AS pos
          FROM refined),
        mx AS (
          SELECT y.vec_id, MAX({cos}) AS max_prior_cos
          FROM ordered x JOIN ordered y
            ON x.cell = y.cell AND x.subcell = y.subcell AND x.pos < y.pos
          GROUP BY y.vec_id)
        SELECT o.vec_id, o.cell, o.subcell, o.pos, m.max_prior_cos,
               CASE WHEN m.max_prior_cos >= {threshold} THEN FALSE ELSE TRUE END AS kept
        FROM ordered o LEFT JOIN mx m ON o.vec_id = m.vec_id
        ORDER BY o.vec_id
    """


def _s14_oracle() -> str:
    """Twin of s14_mmr_rerank: the same greedy MMR selection as a
    recursive CTE — one row per (qid, step) carrying the picked list;
    each recursion scores every unpicked pool candidate (relevance
    minus max sim to the picked set, identical rounded-9 exact-int
    cosines) and keeps the per-qid argmax (score DESC, cid
    tiebreak) — selecting the identical sequence the Spark loop
    does."""
    pool = _s1_sql(ANN_NQ, MMR_POOL)
    sim = (
        f"round(CAST({_DOT.format(a='na.sv', b='nb.sv')} AS DOUBLE)"
        " / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))), 9)"
    )
    maxsim = (
        "(SELECT max(c.sim) FROM cs c WHERE c.qid = s.qid"
        " AND c.ca = e.cid AND list_contains(s.picked, c.cb))"
    )
    return f"""
        WITH RECURSIVE
        pool AS ({pool}),
        mbase AS (SELECT vec_id, {_SCALED} AS sv FROM embeddings),
        mnormed AS (
          SELECT vec_id, sv, {_DOT.format(a='sv', b='sv')} AS nrm FROM mbase),
        cs AS (
          SELECT a.qid, a.cid AS ca, b.cid AS cb, {sim} AS sim
          FROM pool a JOIN pool b ON a.qid = b.qid AND a.cid <> b.cid
          JOIN mnormed na ON na.vec_id = a.cid
          JOIN mnormed nb ON nb.vec_id = b.cid),
        sel(qid, step, cid, rel, mmr_score, picked) AS (
          SELECT qid, CAST(1 AS BIGINT), cid, cosine, cosine, [cid]
          FROM pool WHERE rk = 1
          UNION ALL
          SELECT qid, CAST(step + 1 AS BIGINT), cid, rel, score,
                 list_append(picked, cid) FROM (
            SELECT s.qid, s.step, e.cid, e.cosine AS rel, s.picked,
                   e.cosine - {maxsim} AS score,
                   ROW_NUMBER() OVER (PARTITION BY s.qid
                     ORDER BY e.cosine - {maxsim} DESC, e.cid) AS rn
            FROM sel s JOIN pool e
              ON e.qid = s.qid AND NOT list_contains(s.picked, e.cid)
            WHERE s.step < {MMR_M})
          WHERE rn = 1)
        SELECT qid, step, cid, rel, mmr_score FROM sel ORDER BY qid, step
    """


def _s16_oracle() -> str:
    """Twin of s16_knn_centrality: the s11 graph twin's edges through
    three unrolled integer-PageRank CTEs — floor-div contributions,
    integer damping, identical to the Spark rounds by construction."""
    from ..operators.similarity import PR_BASE, PR_SCALE

    iters = 3
    ctes = [
        f"edges AS (SELECT qid AS src, cid AS dst FROM g)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS vec_id FROM edges"
        " UNION SELECT dst FROM edges)",
        f"r0 AS (SELECT vec_id, CAST({PR_SCALE} AS BIGINT) AS pr FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
          SELECT n.vec_id,
                 CAST({PR_BASE} + COALESCE((85 * s.inflow) // 100, 0)
                   AS BIGINT) AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS vec_id,
                   CAST(SUM(r{i - 1}.pr // d.deg) AS BIGINT) AS inflow
            FROM edges e JOIN r{i - 1} ON e.src = r{i - 1}.vec_id
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s USING (vec_id))"""
        )
    ctes.append(
        "ind AS (SELECT dst AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_in"
        " FROM edges GROUP BY dst)"
    )
    return f"""
        WITH g AS ({_s11_oracle()}),
        {",".join(ctes)}
        SELECT r{iters}.vec_id, COALESCE(ind.n_in, 0) AS n_in, r{iters}.pr
        FROM r{iters} LEFT JOIN ind USING (vec_id)
        ORDER BY pr DESC, vec_id LIMIT 25
    """


def build_oracle() -> dict[str, str]:
    """Build the twin dict with adaptive parameters derived from the
    CURRENT gate catalog (env read now, not at import) — the canonical
    entry point for __spark_entry__.oracle_sql(). The module-level
    ``ORACLE`` snapshot below exists for direct imports and tests."""
    out = dict(_STATIC_ORACLE)
    out.update(
        {
            "d9_embedding_neardup": _d9_oracle(),
            "s7_semdedup": _s7_oracle(),
            "s3_lsh_ann": _s3_oracle(),
            "s4_ivf_ann": _s4_oracle(),
            "s8_pq_ann": _s8_oracle(),
            "s19_ivfpq_ann": _s19_oracle(),
            "s20_pq_shortlist_sweep": _s20_oracle(),
            "s9_kmeans_refine": _s9_oracle(),
            "s10_cluster_balance": _s10_oracle(),
            "s11_knn_graph": _s11_oracle(),
            "s12_graph_recall": _s12_oracle(),
            "s18_nn_descent": _s18_oracle(),
            "s21_nn_descent_converge": _s21_oracle(),
            "s22_hnsw_ann": _s22_oracle(),
            "s23_hnsw_beam_sweep": _s23_oracle(),
            "s24_hnsw_multilevel": _s24_oracle(),
            "s25_int8_recall": _s25_oracle(),
            "s26_hnsw_adaptive": _s26_oracle(),
            "s27_graph_churn": _s27_oracle(),
            "s28_filtered_ann": _s28_oracle(),
            "s29_filtered_graph_ann": _s29_oracle(),
            "s30_ivf_churn": _s30_oracle(),
            "s31_pq_churn": _s31_oracle(),
            "s32_filtered_ann_auto": _s32_oracle(),
            "s13_matryoshka_recall": _s13_oracle(),
            "s14_mmr_rerank": _s14_oracle(),
            "s16_knn_centrality": _s16_oracle(),
            "s17_ivf_probe_sweep": _s17_oracle(),
            "s6_ann_recall": _s6_oracle(),
        }
    )
    return out


_STATIC_ORACLE = {
    "s1_cosine_topk": _s1_sql(N_QUERIES),
    "s5_quantize_error": """
        WITH x AS (
          SELECT vec_id, label,
                 list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS xi
          FROM embeddings),
        mm AS (
          SELECT vec_id, label, xi,
                 greatest(list_aggregate(xi, 'max'),
                          -list_aggregate(xi, 'min')) AS m
          FROM x),
        pv AS (
          SELECT vec_id, label, CAST(len(xi) AS BIGINT) AS n_elems,
                 CAST(list_aggregate(list_transform(xi, v ->
                   CASE WHEN v >= 0
                     THEN (((2*127*v + m) // (2*m))*m - 127*v)
                        * (((2*127*v + m) // (2*m))*m - 127*v)
                     ELSE (-(((2*127*(-v) + m) // (2*m))*m) - 127*v)
                        * (-(((2*127*(-v) + m) // (2*m))*m) - 127*v) END),
                 'sum') AS BIGINT) AS sse_num
          FROM mm WHERE m > 0)
        SELECT label, COUNT(*) AS n_vecs,
               CAST(SUM(n_elems) AS BIGINT) AS n_elems,
               CAST(SUM(sse_num) AS BIGINT) AS sse_num,
               CAST(SUM(sse_num) AS DOUBLE) / CAST(SUM(n_elems) AS DOUBLE) AS mse_num
        FROM pv GROUP BY label ORDER BY label
    """,
    "s15_label_drift": f"""
        WITH ex AS (
          SELECT label, vec_id % 2 AS half, vec_id,
                 CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16777216.0) AS BIGINT) AS sx
          FROM embeddings),
        s AS (SELECT label, half, dim, CAST(SUM(sx) AS BIGINT) AS s
              FROM ex GROUP BY label, half, dim),
        sv AS (SELECT label, half, list(s ORDER BY dim) AS sv
               FROM s GROUP BY label, half),
        c AS (SELECT label, half, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
              FROM ex GROUP BY label, half),
        h AS (SELECT label, half, sv, n FROM sv JOIN c USING (label, half))
        SELECT CAST(a.label AS BIGINT) AS label,
               a.n AS n_even, b.n AS n_odd,
               round({_DDOT.format(a='a.sv', b='b.sv')}
                 / (sqrt({_DDOT.format(a='a.sv', b='a.sv')})
                    * sqrt({_DDOT.format(a='b.sv', b='b.sv')})), 9)
                 AS centroid_cosine
        FROM h a JOIN h b ON a.label = b.label AND a.half = 0 AND b.half = 1
        ORDER BY label
    """,
    "s2_label_centroids": f"""
        WITH ex AS (
          SELECT label,
                 CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 16777216.0) AS BIGINT) AS sx
          FROM embeddings)
        SELECT label, dim,
               CAST(SUM(sx) AS DOUBLE) / (CAST(COUNT(sx) AS DOUBLE) * 16777216.0) AS centroid
        FROM ex GROUP BY label, dim ORDER BY label, dim
    """,
}

ORACLE = build_oracle()
