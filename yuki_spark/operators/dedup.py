"""Deduplication operators for the documents table.

Scale design (100 TB):
- *Exact* dedup is a hash-groupBy — one shuffle on the 128-bit text
  hash, map-side partial aggregation.
- *Near-dup candidate generation* never materializes the O(n²) pair
  space: the Jaccard path uses a token inverted index (explode →
  shuffle on token → per-pair intersection counts); the MinHash path
  shuffles on LSH band keys only, and verification runs per candidate
  pair. Both are the standard linear-ish MinHash/LSH pipeline
  (Broder '97) expressed as DataFrame ops.
- SimHash buckets on 16-bit chunks (Hamming ≤ 3 ⇒ some chunk equal
  by pigeonhole over 4 chunks) — again a key-equality shuffle.

Only MinHash signature generation and SimHash use Python: both are
vectorized Pandas UDFs over Arrow batches (not row-at-a-time).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..functions import portable_hash60, tokens

# ---- exact dedup --------------------------------------------------------


def exact_dup_stats(docs: DataFrame) -> DataFrame:
    """Per-source doc/unique-text counts via md5 hash-groupBy."""
    return (
        docs.withColumn("h", F.md5("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_dups"),
        )
    )


# ---- token-set Jaccard via inverted index ------------------------------


def token_sets(docs: DataFrame) -> DataFrame:
    # array_remove drops the [''] artifact of splitting an empty/blank
    # text — else two empty docs would score Jaccard 1.0
    return docs.select(
        "doc_id",
        F.array_remove(F.array_distinct(tokens("text")), "").alias("toks"),
    ).withColumn("set_size", F.size("toks").cast("bigint"))


def _verify_pairs(
    cand: DataFrame,
    ts_a: DataFrame,
    ts_b: DataFrame,
    threshold: float,
    id_a: str,
    id_b: str,
) -> DataFrame:
    """Exact-Jaccard verification of candidate id pairs against two
    token-set tables — the ONE copy of the Jaccard formula behind
    jaccard_pairs / minhash_lsh_pairs / incremental_neardup (any
    change to empty-set or null handling lands in all three)."""
    ta = ts_a.select(
        F.col("doc_id").alias(id_a),
        F.col("toks").alias("toks_a"),
        F.col("set_size").alias("size_a"),
    )
    tb = ts_b.select(
        F.col("doc_id").alias(id_b),
        F.col("toks").alias("toks_b"),
        F.col("set_size").alias("size_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint")
    jac = inter.cast("double") / (
        F.col("size_a") + F.col("size_b") - inter
    ).cast("double")
    return (
        cand.join(ta, id_a)
        .join(tb, id_b)
        .withColumn("jac", jac)
        .where(F.col("jac") >= threshold)
        .select(id_a, id_b, "jac")
    )


def jaccard_pairs_from(ts: DataFrame, threshold: float) -> DataFrame:
    """:func:`jaccard_pairs` over a precomputed (already materialized)
    token-set table — the entry point for callers that persist the
    token sets as a reusable artifact (queries/dedup_family.py shares
    ONE tokenization across d2/d11/d20/d33 through the impression
    store) instead of re-deriving them per query."""
    return _verify_pairs(
        jaccard_candidates(ts, threshold), ts, ts, threshold, "doc_a", "doc_b"
    )


def jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """All doc pairs (a < b) with token-set Jaccard ≥ threshold —
    exact, via prefix-filtered candidate generation (Chaudhuri et al.
    '06 / PPJoin family). Returns (doc_a, doc_b, jac).

    Why not a plain inverted-index join: candidate rows scale with
    Σ df(token)², so one stopword-grade token shared by f docs yields
    f² rows. Prefix filtering bounds that: J(a,b) ≥ t implies
    |a∩b| ≥ ⌈t·max(|a|,|b|)⌉, so under any global token order the two
    docs must share a token within each one's first
    |d| − ⌈t·|d|⌉ + 1 tokens. Ordering tokens rarest-first (ascending
    document frequency) puts only low-df tokens in prefixes — hot
    tokens never generate candidates, and the result is still exact
    because every candidate is verified on the full token sets.

    Shuffle shape: df aggregation (tok) → prefix re-group (doc_id) →
    candidate join (prefix tok only) → verification joins (doc id).
    The token-set table feeds posting and verification sides:
    localCheckpoint materializes it once (at cluster scale:
    persist/write the signature table).
    """
    ts = token_sets(docs).localCheckpoint(eager=False)
    return jaccard_pairs_from(ts, threshold)


def jaccard_candidates(ts: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered candidate pairs (doc_a < doc_b) from a
    token_sets table — every pair with Jaccard ≥ threshold is included
    (no false negatives); callers verify on the full sets."""
    posts = ts.select("doc_id", "set_size", F.explode("toks").alias("tok"))
    df_tbl = posts.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # canonical rarest-first order; floor() (not ceil) keeps the prefix
    # one-safe against IEEE rounding of threshold*size at boundaries
    prefix_len = (
        F.col("set_size") - F.floor(F.lit(threshold) * F.col("set_size")) + 1
    ).cast("int")
    pre = (
        posts.join(df_tbl, "tok")
        .groupBy("doc_id", "set_size")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ranked"))
        .select(
            "doc_id",
            "set_size",
            # pos = the token's 1-based rank in the GLOBAL rarest-first
            # order (prefix tokens are exactly the first L ranked ones),
            # feeding PPJoin's positional filter below
            F.posexplode(
                F.slice(F.transform("ranked", lambda s: s["tok"]), F.lit(1), prefix_len)
            ).alias("pos0", "tok"),
        )
        .select("doc_id", "set_size", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    # Asymmetric INDEXING prefix (PPJoin, Xiao et al. '08): for a true
    # pair J ≥ t with |y| ≤ |x|, the required overlap
    # α = ⌈t/(1+t)·(|x|+|y|)⌉ satisfies α ≥ ⌈2t/(1+t)·|y|⌉ (plug
    # |x| ≥ |y|) and α ≥ ⌈t·|x|⌉ (plug |y| ≥ t·|x|, the length
    # filter), and the prefix lemma puts the pair's RAREST shared
    # token s₁ simultaneously within the first |x|−α+1 of x and the
    # first |y|−α+1 of y (every shared token after s₁ — at least α−1
    # of them — sits behind it in both rankings). So the join only
    # needs the smaller side's postings up to
    # |y| − floor(2t/(1+t)·|y|) + 1 — ~45% shorter at t = 0.8 than
    # the symmetric |y| − floor(t·|y|) + 1 — which cuts the candidate
    # join's output (and the distinct's shuffle) nearly in half on a
    # similarity-dense corpus. floor() keeps it one-safe exactly as
    # for the full prefix; verification stays exact, so the VERIFIED
    # pair set is bit-identical to the symmetric form (pinned by
    # tests/test_operators.py against the all-pairs oracle).
    short_len = (
        F.col("set_size")
        - F.floor(F.lit(2.0 * threshold / (1.0 + threshold)) * F.col("set_size"))
        + 1
    ).cast("int")
    a = pre.select(
        F.col("tok"),
        F.col("doc_id").alias("doc_a"),
        F.col("set_size").alias("size_a"),
        F.col("pos").alias("pos_a"),
    )
    b = pre.where(F.col("pos") <= short_len).select(
        F.col("tok"),
        F.col("doc_id").alias("doc_b"),
        F.col("set_size").alias("size_b"),
        F.col("pos").alias("pos_b"),
    )
    # length filter: J ≥ t forces t·|a| ≤ |b| and t·|b| ≤ |a|.
    # Positional filter (PPJoin, Xiao et al. '08): both docs rank
    # tokens in ONE global order, so a shared token at ranks
    # (pa, pb) bounds the overlap by (shared before it) + 1 +
    # (shared after it) ≤ min(pa,pb)−1 + 1 + min(|a|−pa, |b|−pb);
    # J ≥ t needs overlap ≥ ⌈t(|a|+|b|)/(1+t)⌉. At a true pair's
    # FIRST shared prefix token the earlier-shared term is 0, so the
    # conservative per-occurrence bound always admits at least that
    # occurrence — no false negatives (verification stays exact
    # regardless; this only cuts verification volume). α uses
    # floor() so a 1-ulp float wobble can only weaken the prune.
    alpha = F.floor(
        (F.col("size_a") + F.col("size_b")).cast("double")
        * F.lit(threshold)
        / F.lit(1.0 + threshold)
    )
    ubound = (
        F.least(F.col("pos_a"), F.col("pos_b"))
        + F.least(
            F.col("size_a") - F.col("pos_a"), F.col("size_b") - F.col("pos_b")
        )
    )
    # role assignment: b is the (size, doc_id)-lexicographically
    # SMALLER record of the pair (the indexing side the short prefix
    # is valid for); ties on size pick exactly one orientation so no
    # pair is emitted through both roles. Output ids re-normalized to
    # doc_a < doc_b (the operator's contract) after the join.
    smaller_b = (F.col("size_b") < F.col("size_a")) | (
        (F.col("size_b") == F.col("size_a"))
        & (F.col("doc_b") < F.col("doc_a"))
    )
    return (
        a.join(b, "tok")
        .where(
            smaller_b
            & (F.col("size_b").cast("double") >= F.lit(threshold) * F.col("size_a"))
            & (F.col("size_a").cast("double") >= F.lit(threshold) * F.col("size_b"))
            & (ubound >= alpha)
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )


# ---- MinHash + LSH ------------------------------------------------------

N_PERM = 64
N_BANDS = 16  # 16 bands × 4 rows
_MERSENNE = (1 << 61) - 1
_rng = np.random.RandomState(42)
_PERM_A = _rng.randint(1, _MERSENNE, size=N_PERM, dtype=np.int64)
_PERM_B = _rng.randint(0, _MERSENNE, size=N_PERM, dtype=np.int64)


@pandas_udf(ArrayType(LongType()))
def _minhash_sig(tok_hashes: pd.Series) -> pd.Series:
    """64-perm MinHash signature from pre-hashed tokens (tokens are
    hashed JVM-side with xxhash64 — deterministic, no Python
    hash-seed dependence). Vectorized numpy over Arrow batches."""
    out = []
    for ts in tok_hashes:
        if ts is None or len(ts) == 0:
            out.append([0] * N_PERM)
            continue
        h = np.asarray(ts, dtype=np.int64).astype(np.uint64) & np.uint64(
            0x7FFFFFFFFFFFFFFF
        )
        # (a*h + b) mod p for each permutation, min over tokens
        hm = (
            h[None, :] * _PERM_A.astype(np.uint64)[:, None]
            + _PERM_B.astype(np.uint64)[:, None]
        ) % np.uint64(_MERSENNE)
        out.append(hm.min(axis=1).astype(np.int64).tolist())
    return pd.Series(out)


# The band structs of band_index as one SQL expression: built column
# by column they cost ~2,400 py4j round trips per call.
_ROWS_PER_BAND = N_PERM // N_BANDS
_BANDS_SQL = "array({})".format(
    ", ".join(
        f"named_struct('band', {i}, 'bkey', xxhash64("
        + ", ".join(f"sig[{i * _ROWS_PER_BAND + j}]" for j in range(_ROWS_PER_BAND))
        + "))"
        for i in range(N_BANDS)
    )
)


def band_index(ts: DataFrame) -> DataFrame:
    """MinHash-LSH band keys of a (token-set) corpus: one row per
    (doc_id, band, bkey). This IS the near-dup index a continuously
    ingested corpus persists (e.g. through the ImpressionStore): tiny
    relative to the text (N_BANDS int64 keys per doc), unioned as
    batches arrive, and every future batch checks against everything
    seen so far by joining band keys — no recompute of history.
    Takes :func:`token_sets` output so callers control caching."""
    sig = ts.withColumn(
        "tok_hashes", F.transform("toks", lambda t: F.xxhash64(t))
    ).withColumn("sig", _minhash_sig("tok_hashes"))
    return (
        sig.select("doc_id", F.explode(F.expr(_BANDS_SQL)).alias("bk"))
        .select(
            "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
        )
    )


def incremental_neardup(
    new_docs: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    *,
    new_ts: DataFrame | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Novelty check for a NEW batch against an already-indexed corpus:
    (new_id, indexed_id, jac) for every new document that
    near-duplicates an indexed one — the incremental form of
    :func:`minhash_lsh_pairs` a production ingest runs per batch
    instead of re-deduping the whole corpus.

    Scale shape: the new batch's band keys (batch-sized) join the
    persisted ``index`` on (band, bkey) — shuffle proportional to the
    batch + matching index keys, never the corpus text; and the
    exact-Jaccard verification tokenizes only the candidate slice of
    ``corpus`` (the candidate indexed_ids — batch-bounded — broadcast
    as a filter in front of the corpus scan, so the corpus is pruned
    BEFORE any tokenization or shuffle). New-vs-new duplicates inside
    the batch are :func:`minhash_lsh_pairs`' job on the batch alone;
    append the batch's :func:`band_index` rows to the stored index
    afterwards.

    ``new_ts`` / ``new_bands`` let a caller that already computed the
    batch's token sets and band keys (e.g. the streaming ingest, which
    needs them for its within-batch dedup too) pass them in — one
    tokenization + MinHash pass per batch instead of one per step."""
    if new_ts is None:
        new_ts = token_sets(new_docs).localCheckpoint(eager=False)
    if new_bands is None:
        new_bands = band_index(new_ts)
    cand = (
        new_bands.withColumnRenamed("doc_id", "new_id")
        .join(index.withColumnRenamed("doc_id", "indexed_id"), ["band", "bkey"])
        .select("new_id", "indexed_id")
        .distinct()
        .localCheckpoint(eager=False)  # feeds the filter AND the verify join
    )
    hit_docs = corpus.join(
        F.broadcast(
            cand.select(F.col("indexed_id").alias("doc_id")).distinct()
        ),
        "doc_id",
    )
    return _verify_pairs(
        cand, new_ts, token_sets(hit_docs), threshold, "new_id", "indexed_id"
    )


def remove_from_index(index: DataFrame, ids: DataFrame) -> DataFrame:
    """Surviving band index after a batch DELETION: drop every
    (doc_id, band, bkey) row of the removed docs. Band keys are a pure
    per-doc function of the text, so the surviving index equals a
    from-scratch :func:`band_index` build over the surviving corpus
    row-for-row (tested) — the index a GDPR erasure / retraction batch
    leaves behind keeps serving :func:`incremental_neardup` unchanged.

    Scale shape: one keyed anti-join on doc_id — the removal set is
    batch-sized (AQE broadcasts it), the index is O(N_BANDS · corpus)
    rows and never rescanned as text."""
    return index.join(ids.select("doc_id").distinct(), "doc_id", "left_anti")


def surviving_pairs(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Near-dup pair table after a batch deletion: drop every pair
    with a removed endpoint (two keyed anti-joins — the maintenance
    step for a persisted pair deposit)."""
    rm = ids.select("doc_id").distinct()
    return pairs.join(
        rm.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_anti"
    ).join(rm.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_anti")


def relabel_after_removal(
    clusters: DataFrame,
    pairs: DataFrame,
    ids: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Incremental connected-component relabel after a batch deletion:
    ONLY components that contained a removed doc recompute; every
    untouched component keeps its rows verbatim (its membership AND
    its min-id label are unchanged by construction — a component is
    touched iff it lost a member). Contract: ``clusters`` is
    :func:`dedup_clusters`' output over ``pairs``; the result equals
    ``dedup_clusters(surviving_pairs(pairs, ids))`` — a from-scratch
    rebuild on the surviving corpus — including component SPLITS
    (removing a bridge doc relabels each side at its own min-id) and
    evaporation (a doc whose every pair died drops out of the labels,
    exactly as a from-scratch build never sees it). Tested against
    the rebuild on both shapes.

    Scale shape: the touched slice is deletion-sized (dup components
    are small), so the CC iteration reruns over a few components'
    edges, not the corpus graph; everything else is keyed
    anti-/semi-joins against the label and pair tables."""
    rm = ids.select("doc_id").distinct().localCheckpoint(eager=False)
    touched = (
        clusters.join(rm, "doc_id")
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=False)  # feeds the keep-side anti-join
        # AND the touched-members semi-join
    )
    # re-select: the key-first join output would otherwise flip the
    # (doc_id, cluster_id) contract order
    keep = clusters.join(touched, "cluster_id", "left_anti").select(
        "doc_id", "cluster_id"
    )
    # members of touched components — both pair endpoints live in the
    # same component, so one endpoint's membership selects the pair
    tdocs = clusters.join(touched, "cluster_id").select(
        F.col("doc_id").alias("doc_a")
    )
    p = surviving_pairs(
        pairs.select("doc_a", "doc_b").join(tdocs, "doc_a", "left_semi"), rm
    )
    return keep.unionByName(dedup_clusters(p, max_iter))


def relabel_after_addition(
    clusters: DataFrame,
    new_pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Incremental connected-component relabel after a batch of new
    EDGES — :func:`relabel_after_removal`'s twin (r11), the label-
    maintenance step a keep-all near-dup bookkeeping pipeline runs as
    new documents (and their verified pairs) land. Contract:
    ``clusters`` is :func:`dedup_clusters`' output over the existing
    pair table; the result equals ``dedup_clusters(pairs ∪
    new_pairs)`` — a from-scratch rebuild — including component
    MERGES (a new edge bridging two components relabels both at the
    joint min-id) and brand-new components (both endpoints unseen).

    The trick is the CONDENSED graph: each new edge maps its
    endpoints to their current labels (an unlabeled endpoint — new
    doc, or old doc with no prior pair — stands for itself), and CC
    runs over THAT batch-sized graph only. Old labels are component
    min-ids, so the min over a condensed component equals the true
    min over every member of the merged components — the relabel is
    exact, not approximate. Re-applying an already-merged batch
    condenses every edge to a self-loop, so replay is a no-op
    (idempotent by construction; pinned in tests).

    Scale shape: two keyed left joins of the batch-sized edge table
    against the label table, CC over a condensed graph bounded by the
    batch (never the corpus graph), then one keyed join relabels the
    touched components' members; untouched components never move."""
    np_ = (
        new_pairs.select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = clusters.select("doc_id", "cluster_id")
    la = np_.join(
        lab.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left"
    ).select(F.coalesce("cluster_id", "doc_a").alias("la"), "doc_b")
    cond = la.join(
        lab.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left"
    ).select("la", F.coalesce("cluster_id", "doc_b").alias("lb"))
    mapping = dedup_clusters(
        cond.select(F.col("la").alias("doc_a"), F.col("lb").alias("doc_b")),
        max_iter,
    ).localCheckpoint(eager=False)  # feeds relabel join + new-doc rows
    # nodes of the condensed graph are old labels or fresh doc_ids; a
    # node appears in ``clusters`` iff it IS an old label (a labeled
    # doc condenses to its label, never to itself)
    old_labels = mapping.select(
        F.col("doc_id").alias("cluster_id"),
        F.col("cluster_id").alias("__new"),
    )
    relabeled = clusters.join(old_labels, "cluster_id").select(
        "doc_id", F.col("__new").alias("cluster_id")
    )
    keep = clusters.join(
        old_labels.select("cluster_id"), "cluster_id", "left_anti"
    ).select("doc_id", "cluster_id")
    fresh = mapping.join(clusters.select("doc_id"), "doc_id", "left_anti")
    return keep.unionByName(relabeled).unionByName(fresh)


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """MinHash/LSH near-dup pairs, verified with exact Jaccard.

    Candidates come from band-key equality only (shuffle on band key);
    exact verification joins back the token sets for candidate pairs.
    """
    # one materialization feeds band explode (both self-join sides)
    # AND the exact-verification joins — without it the plan runs the
    # MinHash UDF 4x and scans the corpus 8x
    ts = token_sets(docs).localCheckpoint(eager=False)
    return minhash_pairs_from(
        ts, band_index(ts).localCheckpoint(eager=False), threshold
    )


def minhash_pairs_from(
    ts: DataFrame, bands: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """:func:`minhash_lsh_pairs`' core over precomputed token sets and
    band keys — callers that reuse both (the streaming ingest) avoid
    re-running the tokenization and MinHash UDF.

    The band self-join carries each side's set size so the exact
    length filter (J ≥ t forces t·|a| ≤ |b| and t·|b| ≤ |a| — the
    same bound jaccard_candidates uses) prunes candidates BEFORE the
    distinct and the token-set verification joins. On a similarity-
    dense corpus this is the difference between verifying every
    moderately-similar band collision and verifying only size-
    compatible ones (measured at sf0.1, t=0.95: 9.6M → 2.2M
    candidates); it never drops a true pair, so LSH recall — and the
    exact-Jaccard oracle — are untouched."""
    bx = bands.join(ts.select("doc_id", "set_size"), "doc_id")
    cand = (
        bx.alias("x")
        .join(bx.alias("y"), ["band", "bkey"])
        .where(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (
                F.col("y.set_size").cast("double")
                >= F.lit(threshold) * F.col("x.set_size")
            )
            & (
                F.col("x.set_size").cast("double")
                >= F.lit(threshold) * F.col("y.set_size")
            )
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_pairs(cand, ts, ts, threshold, "doc_a", "doc_b")


def set_groups(docs: DataFrame) -> DataFrame:
    """(doc_id, rep, set_size): identical-token-set groups with
    rep = the group's min doc_id. Grouping key is md5 of the JSON
    serialization of the sorted token set — unambiguous (JSON escapes
    any in-token bytes) and collision-safe at 128 bits. Two docs in
    one group have pairwise Jaccard 1 (unless the set is empty) and
    identical Jaccard against every third doc — the exact-equivalence
    that lets the pairwise machinery run on representatives only."""
    ts = token_sets(docs)
    member = ts.select(
        "doc_id",
        "set_size",
        F.md5(F.to_json(F.array_sort("toks"))).alias("__h"),
    ).localCheckpoint(eager=False)  # feeds the reps agg AND the join —
    # without it the tokenize+sort+md5 subtree runs twice in one plan
    reps = member.groupBy("__h").agg(F.min("doc_id").alias("rep"))
    return member.join(reps, "__h").select("doc_id", "rep", "set_size")


def jaccard_pairs_collapsed(docs: DataFrame, threshold: float) -> DataFrame:
    """Exactly :func:`jaccard_pairs`' output, computed with identical
    token sets collapsed to one representative first: the candidate
    generation and exact verification run on the (often much smaller)
    rep corpus, then rep pairs EXPAND back to member pairs — a cross
    pair (A,B) yields every (a∈A, b∈B) at A and B's verified Jaccard
    (equal sets see identical J everywhere), and every non-empty
    group of ≥2 members yields its intra-group pairs at J = 1
    (identical sets; empty sets never pair — the same null-Jaccard
    rule as _verify_pairs). Expansion is plain row generation — two
    member joins and a self-join on the group key — so the quadratic
    verification work shrinks by the duplication factor while the
    output stays bit-identical (pair order normalized to doc_a <
    doc_b)."""
    g = set_groups(docs).localCheckpoint(eager=False)
    rp = jaccard_pairs(_rep_docs(docs, g), threshold)
    return _expand_rep_pairs(rp, g)


def _rep_docs(docs: DataFrame, g: DataFrame) -> DataFrame:
    return docs.join(
        g.where(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "semi",
    )


def _expand_rep_pairs(rp: DataFrame, g: DataFrame) -> DataFrame:
    """Expand verified representative pairs back to member pairs (the
    shared second half of the *_collapsed operators): cross pairs
    inherit the rep pair's jac, non-empty groups of ≥2 members emit
    their intra pairs at J = 1, order normalized to doc_a < doc_b."""
    m_a = g.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("a"))
    m_b = g.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("b"))
    cross = (
        rp.join(m_a, "doc_a")
        .join(m_b, "doc_b")
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "jac",
        )
    )
    mm = g.where(F.col("set_size") > 0)
    intra = (
        mm.alias("x")
        .join(mm.alias("y"), "rep")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jac"),
        )
    )
    return cross.unionByName(intra)


# public name for callers outside this module (queries/dedup_family.py
# expands PERSISTED rep-pair artifacts with the identical machinery)
expand_rep_pairs = _expand_rep_pairs


def expand_rep_simhash_pairs(rp: DataFrame, g: DataFrame) -> DataFrame:
    """Expand verified representative SIMHASH pairs back to member
    pairs — :func:`_expand_rep_pairs`' shape with two deliberate
    differences that match :func:`simhash_pairs`' semantics exactly:
    the carried value is the Hamming distance (equal token sets have
    equal fingerprints, so every member pair of a rep pair shares its
    reps' distance), and intra-group pairs emit at Hamming 0 for ALL
    groups of ≥2 members INCLUDING the empty-set group — two empty
    docs both fingerprint to 0 and co-bucket, so the direct path
    pairs them (unlike Jaccard, where 0/0 excludes empty pairs)."""
    m_a = g.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("a"))
    m_b = g.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("b"))
    cross = (
        rp.join(m_a, "doc_a")
        .join(m_b, "doc_b")
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "hamming",
        )
    )
    intra = (
        g.alias("x")
        .join(g.alias("y"), "rep")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(intra)


def minhash_lsh_pairs_collapsed(
    docs: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """:func:`minhash_lsh_pairs` with the identical-set collapse:
    equal token sets have EQUAL MinHash signatures (the signature is
    a pure function of the set), so they always co-bucket — running
    the band machinery on representatives and expanding
    (:func:`_expand_rep_pairs`) produces the same verified pair set
    while the band join and exact verification shrink by the
    duplication factor."""
    g = set_groups(docs).localCheckpoint(eager=False)
    rp = minhash_lsh_pairs(_rep_docs(docs, g), threshold)
    return _expand_rep_pairs(rp, g)


def neardup_clusters(
    docs: DataFrame, threshold: float, max_iter: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs, at corpus scale —
    exactly ``dedup_clusters(jaccard_pairs(docs, threshold))`` but
    with identical token sets collapsed to one representative first
    (:func:`set_groups`): equal sets connect pairwise (J=1) and see
    identical Jaccard everywhere, so the rep graph's components
    expand verbatim to the full graph's, while candidate volume and
    the CC edge count shrink by the duplication factor (measured at
    sf0.1/t=0.8: 2.97M → 0.70M edges). Returns (doc_id, cluster_id)
    for every doc in some qualifying pair, cluster_id = the
    component's min doc_id — the rep of the lowest group, since every
    member id ≥ its group's rep."""
    g = set_groups(docs).localCheckpoint(eager=False)
    rc = dedup_clusters(jaccard_pairs(_rep_docs(docs, g), threshold), max_iter)
    return clusters_expand(g, rc)


def clusters_expand(g: DataFrame, rc: DataFrame) -> DataFrame:
    """Expand rep-level CC labels ``rc`` (doc_id=rep, cluster_id) back
    to member-level clusters under the :func:`set_groups` table ``g`` —
    the second half of :func:`neardup_clusters`, split out so callers
    holding a PERSISTED rep-pair/label artifact (queries/
    dedup_family.py) skip the pair machinery entirely."""
    # a group of ≥2 members with a NON-empty set clusters on its own
    # even when its rep pairs with nothing else (intra-group J=1
    # edges); empty-set groups never pair (J is 0/0 → excluded), the
    # same null-Jaccard rule _verify_pairs applies
    g2 = (
        g.where(F.col("set_size") > 0)
        .groupBy("rep")
        .agg(F.count(F.lit(1)).alias("sz"))
        .where(F.col("sz") >= 2)
        .select(F.col("rep"), F.col("rep").alias("cluster_id"))
    )
    allc = (
        rc.select(F.col("doc_id").alias("rep"), "cluster_id")
        .unionByName(g2)
        .groupBy("rep")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return g.join(allc, "rep").select("doc_id", "cluster_id")


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = min doc_id in the component (the canonical
    representative to keep).

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(diameter) rounds. Each round is one shuffle on doc_id;
    ``localCheckpoint`` cuts the growing lineage so round N's plan
    doesn't replay rounds 1..N-1 (the standard Spark idiom for
    iterative algorithms; at cluster scale use checkpoint() to
    reliable storage). Near-dup components are tiny (dup groups), so
    convergence is fast regardless of corpus size."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        # every round joins edges: materialize the (expensive) pair
        # pipeline once instead of once per round
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    for i in range(max_iter):
        from pyspark.sql import Observation

        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.src, "left"
        ).select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
            (
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                )
                != F.col("cluster_id")
            ).cast("long").alias("__changed"),
        )
        # convergence count rides the checkpoint materialization as an
        # observed metric — one job per round, not two
        obs = Observation(f"cc_round_{i}")
        new_labels = stepped.observe(obs, F.sum("__changed").alias("n")).localCheckpoint()
        changed = obs.get["n"]
        labels = new_labels.drop("__changed")
        if not changed:
            break
    else:
        # a silent non-converged result would surface only as a wrong
        # cluster_id downstream (apply_dedup keeping a duplicate, an
        # oracle hash mismatch with nothing pointing here) — fail loud
        raise RuntimeError(
            f"dedup_clusters: not converged after {max_iter} rounds; "
            "a component's diameter exceeds max_iter — raise max_iter"
        )
    return labels


def apply_dedup(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Materialize the deduplicated corpus: docs outside any near-dup
    cluster survive untouched; clustered docs survive only as the
    canonical (min-doc_id) representative.

    This is the step an actual training pipeline runs downstream of
    clustering — the result feeds tokenization/packing. The drop set
    (non-canonical members) is a left-anti join on doc_id: tiny next
    to the corpus (only docs inside dup clusters), so AQE broadcasts
    it; at worst it's one keyed shuffle. No full-corpus recompute."""
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti")


# ---- SimHash ------------------------------------------------------------


@pandas_udf(LongType())
def _simhash64(tok_hashes: pd.Series) -> pd.Series:
    """SimHash over JVM-pre-hashed tokens (vectorized). With 60-bit
    portable hashes the top 4 bits are always 0 — effectively a
    60-bit fingerprint, which the DuckDB oracle reproduces exactly."""
    out = np.zeros(len(tok_hashes), dtype=np.int64)
    for i, ts in enumerate(tok_hashes):
        if ts is None or len(ts) == 0:
            continue
        h = np.asarray(ts, dtype=np.int64).astype(np.uint64)
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
            np.int32
        )
        v = np.where(bits.sum(axis=0) * 2 >= len(ts), 1, 0).astype(np.uint64)
        packed = (v << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
        # reinterpret, don't convert: bit 63 set makes the uint64 value
        # exceed int64 range, and NumPy 2.x raises on out-of-range
        # scalar conversion where 1.x silently wrapped
        out[i] = np.array(packed, dtype=np.uint64).view(np.int64)
    return pd.Series(out)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: 4×16-bit chunks; any pair within Hamming ≤ 3
    agrees on ≥1 chunk, so candidates join on chunk equality only.

    Token hashes are the portable 60-bit md5 hash (not xxhash64) so
    the DuckDB oracle can recompute identical fingerprints.
    """
    return simhash_pairs_from(token_sets(docs), max_hamming)


def simhash_pairs_from(ts: DataFrame, max_hamming: int = 3) -> DataFrame:
    """:func:`simhash_pairs` over a precomputed token-set table —
    lets callers holding a PERSISTED token-set artifact (queries/
    dedup_family.py) skip re-tokenizing the corpus."""
    sh = ts.select(
        "doc_id",
        _simhash64(F.transform("toks", portable_hash60)).alias("sh"),
    ).localCheckpoint(eager=False)  # else the UDF runs once per chunk side (8x)
    return hamming_pairs_from_hashes(
        sh, max_hamming=max_hamming, n_chunks=4, chunk_bits=16
    )


def hamming_pairs_from_hashes(
    sh: DataFrame,
    max_hamming: int = 3,
    n_chunks: int = 4,
    chunk_bits: int = 16,
) -> DataFrame:
    """Hamming-≤``max_hamming`` pairs over ANY per-doc integer
    fingerprint column ``(doc_id, sh)`` — the pigeonhole blocking
    behind :func:`simhash_pairs`, factored out (r11) so the
    perceptual-hash image dedup key (d50) rides the same machinery:
    split the fingerprint into ``n_chunks`` chunks of ``chunk_bits``
    bits; any pair within Hamming ≤ n_chunks − 1 agrees on ≥1 chunk
    (pigeonhole), so candidates join on chunk equality only and the
    exact bit_count verifies. Caller contract:
    ``max_hamming ≤ n_chunks − 1`` (asserted — a looser threshold
    would silently lose pairs the blocking never surfaces).

    Scale shape: one bounded explode (n_chunks rows/doc) + one
    equi-join on (chunk, ckey); candidate volume is governed by chunk
    entropy — ``chunk_bits`` = 16 gives 65k buckets/chunk (the d4
    default), 8 gives 256 (d50's 56-bit hash), both audited at 10× in
    tools/stress.py for the shipped keys."""
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} chunks "
            f"(got {n_chunks}): pigeonhole blocking would lose pairs"
        )
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftrightunsigned(F.col("sh"), chunk_bits * i)
                .bitwiseAND(F.lit(mask))
                .alias("ckey"),
            )
            for i in range(n_chunks)
        ]
    )
    ex = sh.select("doc_id", "sh", F.explode(chunks).alias("c")).select(
        "doc_id", "sh", F.col("c.chunk").alias("chunk"), F.col("c.ckey").alias("ckey")
    )
    xa = ex.select(F.col("chunk"), F.col("ckey"), F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    xb = ex.select(F.col("chunk"), F.col("ckey"), F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        xa.join(xb, ["chunk", "ckey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
