"""Shared, content-addressed artifacts for the MODEL-TRAINING quality
family (trigram LM + learned classifier) — the analogue of
:mod:`.dedup_family` / :mod:`.sim_family` for corpus-trained models.

A production perplexity gate trains its LM ONCE per corpus snapshot
and scores with it many times; before round 14 the d56 report and the
d54 apply step each re-ran the whole corpus-sized trigram chain
inline (trigram explode + five type-grain count aggregations + the
eval-type joins — the r13 verdict's named improvement). This module
deposits the chain's terminal table through the impression store
(SURVEY §2.1 O5: content-addressed, skip-if-deposited), exactly the
dedup/sim family discipline:

- ``per_doc3`` — the trigram stupid-backoff per-doc score table
  ``(doc_id, source, n_tg, n_bo1, n_bo2, sum_bits, mean_bits)`` over
  the held-out split (docs.py:_d56_per_doc — the model itself, the
  five train count tables, and the eval joins all live inside the
  one-time builder). Per-EVAL-DOC grain: small next to the corpus
  text, and a bit-exact parquet roundtrip — sum_bits is DECIMAL
  (exact in any order) and mean_bits is computed per doc BEFORE the
  deposit, so consumers' rollups reproduce the inline results
  hash-for-hash.

Both consumers (d56's per-source report, d54's percentile gate) read
the deposit and do cheap per-doc-grain rollups. The content address
covers the documents table fingerprint plus a code hash of this
module, the scoring chain's home module (queries/docs.py), the
tokenizer, and the portable-log2 primitives (see artifact_store.Family).

100 TB shape: the deposit IS what a production quality gate persists —
a scored-docs table at held-out grain; re-scoring after a corpus
refresh is one builder run, and every downstream mix/filter decision
reads scores instead of re-training the LM.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load
from .artifact_store import Family, table_fingerprint

FAMILY = Family("lm", "YUKI_SPARK_LM_STORE", "r14-1")
COMPUTES = FAMILY.computes
# each artifact's version folds in exactly the modules its builder
# executes: an edit to an UNRELATED trainer doesn't re-pay a
# corpus-sized build (r14 review: invalidation stays precise)
_LM_MODULES = (
    __name__,
    "yuki_spark.queries.docs",
    "yuki_spark.functions",
    "yuki_spark.operators.text",
)
_CLF_MODULES = _LM_MODULES + ("yuki_spark.operators.classifier",)


def _corpus_fp(sf_dir: str) -> str:
    return table_fingerprint(sf_dir, "documents", {})


def _scored_per_doc(
    spark: SparkSession, sf_dir: str, name: str, chain: Callable
) -> DataFrame:
    """Deposit-or-reuse one LM per-doc score table: ``chain`` (a
    docs.py scoring chain) over the tokenized corpus."""
    from ..operators import text as text_mod

    def builder() -> DataFrame:
        return chain(text_mod.with_tokens(load(spark, sf_dir, "documents")))

    df, _ = FAMILY.artifact(
        spark, name, [_corpus_fp(sf_dir)], builder, _LM_MODULES
    )
    return df


def scored_per_doc3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deposit-or-reuse the trigram-LM per-doc score table for this
    corpus (the shared train-once artifact behind d56 and d54).
    Returns the UNORDERED deposit read — consumers' rollups are
    order-insensitive by construction (DEC-exact sums, per-doc
    doubles computed before the deposit)."""
    from . import docs

    return _scored_per_doc(spark, sf_dir, "per_doc3", docs._d56_per_doc)


def scored_per_doc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deposit-or-reuse the BIGRAM-LM per-doc score table (d52's
    order-2 chain — ``docs._d52_per_doc``), the same train-once
    discipline as :func:`scored_per_doc3` one order down (r14 opt:
    d52 re-ran the full bigram train+score chain inline on every
    call). Same bit-exact parquet roundtrip argument: sum_bits is
    DECIMAL, mean_bits is computed per doc BEFORE the deposit, and
    d52's per-source rollup is order-insensitive on those columns."""
    from . import docs

    return _scored_per_doc(spark, sf_dir, "per_doc2", docs._d52_per_doc)


def clf_artifacts(spark: SparkSession, sf_dir: str):
    """Deposit-or-reuse the trained quality classifier: the d59
    training curve (``clf_curve``) and the Collins-averaged weight
    table (``clf_w``) — ONE training run feeds both deposits (the
    curve's builder stashes the averaged model for the weight
    deposit's builder, so a cold store trains once; both-warm reads
    train zero times; a half-damaged store falls back to one honest
    retrain). Returns ``(curve_df, w_df)`` unordered — d59 re-applies
    its iteration ordering, d60 only joins the weights."""
    from ..operators import classifier
    from . import docs as docs_mod

    fp = _corpus_fp(sf_dir)
    stash: dict = {}

    def _train():
        docs = load(spark, sf_dir, "documents")
        return classifier.perceptron_train(
            docs_mod._clf_features(docs),
            docs_mod._clf_labels(docs),
            docs_mod.CLF_TRAIN_ITERS,
        )

    def build_curve() -> DataFrame:
        report, w = _train()
        stash["w"] = w
        return report

    curve, curve_id = FAMILY.artifact(
        spark, "clf_curve", [fp], build_curve, _CLF_MODULES
    )

    def build_w() -> DataFrame:
        if "w" in stash:
            return stash["w"]
        # the curve deposit was warm (or another thread built it) but
        # the weights deposit is absent: one honest retrain — the
        # trainer is deterministic, so the result is identical
        _report, w = _train()
        return w

    w, _ = FAMILY.artifact(spark, "clf_w", [fp, curve_id], build_w, _CLF_MODULES)
    return curve, w
