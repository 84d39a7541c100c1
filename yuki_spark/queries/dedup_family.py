"""Shared, content-addressed artifacts for the near-dup query family.

The five pairwise-dedup queries (d2/d3/d11/d20/d33) all start from the
same expensive sub-pipeline over one corpus: tokenize → collapse
identical token sets to representatives (:func:`dedup.set_groups`) →
generate + exact-verify candidate pairs. Before round 6 each query
re-derived that pipeline from scratch (~44 s of the 136 s sf0.1 bench
suite, and d33 alone 11.5 s). This module materializes the pipeline
ONCE per corpus through the engine's own reuse mechanism — the
:class:`~yuki_spark.pipeline.impressions.ImpressionStore` (SURVEY §2.1
O5: content-addressed, skip-if-deposited) — and the five queries
consume the deposits. Parity note: this is exactly the reference's
"deposited impression" reuse (/root/reference/Yuki/kernel/
impression_storage.py:7) applied to the engine's own operators.

Artifacts (rep-level — small next to the corpus text):

- ``groups``        — :func:`dedup.set_groups`: (doc_id, rep, set_size)
- ``rep_ts``        — token sets of the representatives (the
  "signature table" a production corpus persists; tokens only, no text)
- ``rep_pairs08``   — EXACT Jaccard pairs over reps at t=0.8 (PPJoin
  prefix+positional filter). t=0.95 consumers filter this (pairs at
  J ≥ .95 ≡ pairs at J ≥ .8 filtered on the verified ``jac``), so one
  deposit serves both thresholds.
- ``rep_bands``     — MinHash-LSH band keys of ``rep_ts`` (d3 + the
  incremental-ingest index shape)
- ``rep_lsh95``     — d3's banded-candidate pairs, exact-verified at .95
- ``rep_clusters08``— CC labels over ``rep_pairs08`` (d11/d20)

Content address: (artifact name, family version, corpus fingerprint +
upstream artifact addresses). The fingerprint covers the documents
table's part-file names/sizes/mtimes plus the doc_id cap, so a
regenerated corpus (same path, new bytes) or a changed cap produces a
new address and a fresh compute — never a stale reuse; the family
version covers the builder code (see artifact_store.Family).

100 TB shape: these deposits ARE what a production dedup run persists —
the signature/pair tables are O(corpus tokens) and O(near-dup edges),
tiny next to the text, and every downstream consumer (leakage audits,
cluster materialization, incremental ingest) reads them instead of
re-tokenizing 100 TB. Store root defaults to a host-local temp dir
(override with YUKI_SPARK_DEDUP_STORE; on a cluster: a shared
filesystem path).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, table_rows
from ..operators import dedup
from .artifact_store import Family, table_fingerprint

FAMILY = Family("dedup", "YUKI_SPARK_DEDUP_STORE", "r6-1")
COMPUTES = FAMILY.computes
store_root = FAMILY.root
# operators/dedup.py builds on functions.tokens/portable_hash60 and
# operators/text's tokenizer, and rep_phash6 on multimodal + codecs:
# every address folds them in, so an edit to tokenization invalidates
# every deposit derived from it
_MODULES = (
    __name__,
    "yuki_spark.operators.dedup",
    "yuki_spark.functions",
    "yuki_spark.operators.text",
    "yuki_spark.operators.multimodal",
    "yuki_spark.operators.codecs",
)
PAIR_THRESHOLD = 0.8  # the one exact-pairs run; 0.95 consumers filter it


def corpus_fingerprint(sf_dir: str, cap: int) -> str:
    """Identity of the capped documents corpus (artifact_store
    fingerprint over the documents table + the doc_id cap)."""
    return table_fingerprint(sf_dir, "documents", {"cap": cap})


def artifacts(
    spark: SparkSession, sf_dir: str, need: tuple[str, ...] = ()
) -> dict[str, DataFrame]:
    """Family artifacts for a corpus, deposit-backed. ``need`` names
    the terminal artifacts the caller wants (upstream dependencies are
    always included); empty means all six. Need-driven matters on the
    COLD path only — an existing deposit's builder is never invoked —
    but it keeps e.g. a first d33 run from paying d3's band/LSH pass
    (measured sf0.1: whole family cold 29.6 s; the exact-pairs chain
    alone ~22 s)."""
    want = set(need) or {
        "rep_lsh95",
        "rep_clusters08",
        "rep_simhash3",
        "rep_phash6",
    }
    if "rep_lsh95" in want:
        want.update(("rep_bands", "rep_ts", "groups"))
    if "rep_clusters08" in want:
        want.update(("rep_pairs08",))
    if (
        "rep_bands" in want
        or "rep_pairs08" in want
        or "rep_simhash3" in want
        or "rep_phash6" in want
    ):
        want.update(("rep_ts", "groups"))
    cap = table_rows(sf_dir, "documents")
    fp = corpus_fingerprint(sf_dir, cap)

    def docs() -> DataFrame:
        return load(spark, sf_dir, "documents").where(F.col("doc_id") < cap)

    def deposit(name, dep_ids, builder):
        return FAMILY.artifact(spark, name, [fp, *dep_ids], builder, _MODULES)

    out: dict[str, DataFrame] = {}
    g, g_id = deposit("groups", [], lambda: dedup.set_groups(docs()))
    out["groups"] = g

    def rep_ts_builder() -> DataFrame:
        reps = dedup._rep_docs(docs(), g)
        return dedup.token_sets(reps)

    rts, rts_id = deposit("rep_ts", [g_id], rep_ts_builder)
    out["rep_ts"] = rts

    if "rep_pairs08" in want:
        rp08, rp08_id = deposit(
            "rep_pairs08",
            [rts_id],
            lambda: dedup.jaccard_pairs_from(rts, PAIR_THRESHOLD),
        )
        out["rep_pairs08"] = rp08
        if "rep_clusters08" in want:
            out["rep_clusters08"], _ = deposit(
                "rep_clusters08",
                [rp08_id],
                lambda: dedup.dedup_clusters(out["rep_pairs08"]),
            )
    if "rep_bands" in want:
        rbands, rbands_id = deposit(
            "rep_bands", [rts_id], lambda: dedup.band_index(rts)
        )
        out["rep_bands"] = rbands
        if "rep_lsh95" in want:
            out["rep_lsh95"], _ = deposit(
                "rep_lsh95",
                [rts_id, rbands_id],
                lambda: dedup.minhash_pairs_from(rts, rbands, 0.95),
            )
    if "rep_simhash3" in want:
        out["rep_simhash3"], _ = deposit(
            "rep_simhash3",
            [rts_id],
            lambda: dedup.simhash_pairs_from(rts, max_hamming=3),
        )
    if "rep_phash6" in want:
        # the d50 perceptual-hash pipeline at rep grain: the thumbnail
        # is a pure function of the token SET (distinct-token bucket
        # histogram), so reps stand in for members exactly as for
        # simhash — encode real PNGs, decode, dHash, pigeonhole-band
        from ..operators import multimodal as mm

        out["rep_phash6"], _ = deposit(
            "rep_phash6",
            [rts_id],
            # fused synth→decode→dHash (one Arrow pass — the PNG bytes
            # stay inside the Python worker; rules identical to the
            # composed path, pinned in tests)
            lambda: dedup.hamming_pairs_from_hashes(
                mm.dhash56_from_sets(rts),
                max_hamming=6,
                n_chunks=7,
                chunk_bits=8,
            ),
        )
    return out


# ---- the family queries' consumption surface ---------------------------


def exact_pairs(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Member-level exact-Jaccard pairs at ``threshold`` ≥ 0.8 from
    the shared deposits — bit-identical to
    ``dedup.jaccard_pairs_collapsed(docs, threshold)``: the rep pairs
    at J ≥ t are exactly the deposited J ≥ 0.8 pairs filtered on their
    verified ``jac``, and the expansion (cross pairs inherit the rep
    jac; non-empty groups of ≥2 emit intra pairs at J=1, which passes
    any t ≤ 1) is the same :func:`dedup.expand_rep_pairs`."""
    if threshold < PAIR_THRESHOLD:
        raise ValueError(
            f"shared deposit holds pairs at J >= {PAIR_THRESHOLD}; "
            f"cannot serve threshold {threshold}"
        )
    a = artifacts(spark, sf_dir, need=("rep_pairs08",))
    rp = a["rep_pairs08"].where(F.col("jac") >= threshold)
    return dedup.expand_rep_pairs(rp, a["groups"])


def lsh_pairs95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d3's banded-MinHash pairs (exact-verified at 0.95), expanded —
    bit-identical to ``dedup.minhash_lsh_pairs_collapsed(docs, 0.95)``
    (equal token sets have equal signatures, so reps stand in for
    members in every band)."""
    a = artifacts(spark, sf_dir, need=("rep_lsh95",))
    return dedup.expand_rep_pairs(a["rep_lsh95"], a["groups"])


def simhash_pairs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d4's SimHash pairs (Hamming ≤ 3) from the shared deposits —
    bit-identical to ``dedup.simhash_pairs(docs, 3)``: equal token
    sets have equal fingerprints, so reps stand in for members
    (:func:`dedup.expand_rep_simhash_pairs` carries the rep Hamming
    to every member pair and emits intra-group pairs at Hamming 0,
    empty-set group included — matching the direct path exactly)."""
    a = artifacts(spark, sf_dir, need=("rep_simhash3",))
    return dedup.expand_rep_simhash_pairs(a["rep_simhash3"], a["groups"])


def phash_pairs6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d50's perceptual-hash image pairs (Hamming ≤ 6) from the shared
    deposits — bit-identical to running the synth→decode→dHash→band
    pipeline over every document directly: the thumbnail is a pure
    function of the token set, so equal-set members share their rep's
    fingerprint (cross pairs inherit the rep Hamming; intra-group
    pairs emit at Hamming 0 including the empty-set group — an empty
    doc's all-zero cells hash to 0, exactly like SimHash's empty
    fingerprint). Pinned against the direct path in tests."""
    a = artifacts(spark, sf_dir, need=("rep_phash6",))
    return dedup.expand_rep_simhash_pairs(a["rep_phash6"], a["groups"])


def clusters08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-level near-dup clusters at 0.8 from the deposited rep
    labels — bit-identical to ``dedup.neardup_clusters(docs, 0.8)``."""
    a = artifacts(spark, sf_dir, need=("rep_clusters08",))
    return dedup.clusters_expand(a["groups"], a["rep_clusters08"])
