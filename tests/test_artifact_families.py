"""The shared artifact stores (queries/dedup_family.py + sim_family.py):
deposit-backed reuse across d2/d3/d11/d20/d33, with outputs
bit-identical to the direct (per-query) operator paths."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from yuki_spark.catalog import load, table_rows
from yuki_spark.operators import dedup
from yuki_spark.queries import dedup_family


@pytest.fixture
def fresh_store(monkeypatch, tmp_path):
    monkeypatch.setenv("YUKI_SPARK_DEDUP_STORE", str(tmp_path / "store"))
    dedup_family.COMPUTES.clear()
    yield tmp_path / "store"


def _docs(spark):
    cap = table_rows(SF_SMOKE, "documents")
    return load(spark, SF_SMOKE, "documents").where(F.col("doc_id") < cap)


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_second_query_reuses_deposits(spark, fresh_store):
    """The whole point of the family store: the FIRST consumer pays
    the tokenize/PPJoin/CC pipeline; every later consumer (same
    corpus) reads deposits and computes nothing."""
    dedup_family.clusters08(spark, SF_SMOKE).collect()
    first = dict(dedup_family.COMPUTES)
    assert first.get("groups") == 1
    assert first.get("rep_pairs08") == 1
    assert first.get("rep_clusters08") == 1

    # a DIFFERENT family query on the same corpus: zero new computes
    dedup_family.exact_pairs(spark, SF_SMOKE, 0.95).collect()
    dedup_family.clusters08(spark, SF_SMOKE).collect()
    assert dedup_family.COMPUTES == first

    # d3's two extra artifacts appear exactly once, then stick
    dedup_family.lsh_pairs95(spark, SF_SMOKE).collect()
    assert dedup_family.COMPUTES["rep_bands"] == 1
    assert dedup_family.COMPUTES["rep_lsh95"] == 1
    dedup_family.lsh_pairs95(spark, SF_SMOKE).collect()
    assert dedup_family.COMPUTES["rep_bands"] == 1


def test_family_outputs_match_direct_paths(spark, fresh_store):
    """Deposit-backed paths are bit-identical to the direct operator
    paths. The 0.95 filter-of-0.8-deposit case exercises the one piece
    of logic unique to the family store (threshold-filtering a lower-
    threshold pair deposit); exact_pairs(0.8) itself is transitively
    pinned by clusters08 equality here plus d33's oracle parity."""
    docs = _docs(spark)
    assert _sorted_rows(
        dedup_family.exact_pairs(spark, SF_SMOKE, 0.95), "doc_a", "doc_b"
    ) == _sorted_rows(
        dedup.jaccard_pairs_collapsed(docs, 0.95), "doc_a", "doc_b"
    )
    assert _sorted_rows(
        dedup_family.lsh_pairs95(spark, SF_SMOKE), "doc_a", "doc_b"
    ) == _sorted_rows(
        dedup.minhash_lsh_pairs_collapsed(docs, 0.95), "doc_a", "doc_b"
    )
    assert _sorted_rows(dedup_family.clusters08(spark, SF_SMOKE), "doc_id") == (
        _sorted_rows(dedup.neardup_clusters(docs, 0.8), "doc_id")
    )


def test_fingerprint_invalidates_on_cap_change(spark, fresh_store):
    fp1 = dedup_family.corpus_fingerprint(SF_SMOKE, 100)
    fp2 = dedup_family.corpus_fingerprint(SF_SMOKE, 101)
    assert fp1 != fp2


def test_simhash_collapse_matches_direct_with_empty_docs(spark):
    """The d4 collapse on a corpus with duplicate sets AND empty docs:
    equal token sets share a fingerprint (reps stand in), and the two
    empty docs pair at Hamming 0 through the empty-set group exactly
    as the direct path pairs them (both fingerprint to 0)."""
    rows = [
        (0, "a b c"),
        (1, "a b c"),
        (2, ""),
        (3, "   "),
        (4, "a b d"),
        (5, "x y z"),
        (6, "c b a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    direct = _sorted_rows(dedup.simhash_pairs(docs, 3), "doc_a", "doc_b")
    g = dedup.set_groups(docs)
    rp = dedup.simhash_pairs_from(
        dedup.token_sets(dedup._rep_docs(docs, g)), 3
    )
    collapsed = _sorted_rows(
        dedup.expand_rep_simhash_pairs(rp, g), "doc_a", "doc_b"
    )
    assert collapsed == direct
    assert (2, 3, 0) in [(a, b, h) for a, b, h in collapsed]  # empty pair

    # and the deposit-backed query path matches the direct operator
    assert _sorted_rows(
        dedup_family.simhash_pairs3(spark, SF_SMOKE), "doc_a", "doc_b"
    ) == _sorted_rows(dedup.simhash_pairs(_docs(spark), 3), "doc_a", "doc_b")


def test_code_fingerprint_tracks_builder_source():
    """The effective deposit version folds in a hash of the builder
    modules' source, so ANY code edit auto-invalidates deposits (the
    gate can never validate a stale deposit's output)."""
    from yuki_spark.operators import dedup as dmod
    from yuki_spark.operators import similarity as smod
    from yuki_spark.queries.artifact_store import code_fingerprint

    a = code_fingerprint(dmod)
    assert a == code_fingerprint(dmod)  # stable within a process
    assert a != code_fingerprint(smod)  # different source, different hash
    assert a != code_fingerprint(dmod, smod)


def test_publish_is_atomic_and_leaves_no_temp(spark, fresh_store):
    """Deposits are renamed into place whole: after a build the store
    holds only final-address directories (no -tmp residue), and the
    deposit's meta records its FINAL address."""
    import json as _json
    import os as _os

    from yuki_spark.pipeline.impressions import ImpressionStore

    dedup_family.clusters08(spark, SF_SMOKE).collect()
    root = str(fresh_store)
    entries = sorted(_os.listdir(root))
    assert entries and not [e for e in entries if "-tmp" in e]
    # every directory left is a listed deposit: no temp residue of any name
    assert entries == ImpressionStore(root).list_ids()
    meta = _json.load(open(_os.path.join(root, entries[0], "meta.json")))
    assert meta["impression"] == entries[0]


def test_below_deposit_threshold_rejected(spark, fresh_store):
    with pytest.raises(ValueError, match="cannot serve threshold"):
        dedup_family.exact_pairs(spark, SF_SMOKE, 0.5)


def test_sim_family_reuses_ann_deposits(spark, monkeypatch, tmp_path):
    """The ANN result store (queries/sim_family.py): s6's recall
    harness computes each index result exactly once; re-running s3
    (or s6) afterwards computes nothing; outputs match the direct
    operator runs bit-for-bit."""
    from yuki_spark.operators import similarity
    from yuki_spark.queries import sim, sim_family

    monkeypatch.setenv("YUKI_SPARK_SIM_STORE", str(tmp_path / "simstore"))
    sim_family.COMPUTES.clear()

    sim.s6_ann_recall(spark, SF_SMOKE).collect()
    first = dict(sim_family.COMPUTES)
    assert first.get("exact20") == 1
    assert first.get("lsh20") == 1 and first.get("ivf20") == 1
    assert first.get("pq20") == 1

    sim.s3_lsh_ann(spark, SF_SMOKE).collect()
    sim.s6_ann_recall(spark, SF_SMOKE).collect()
    assert dict(sim_family.COMPUTES) == first  # zero recomputes

    emb = sim.load(spark, SF_SMOKE, "embeddings")
    direct = similarity.lsh_ann(
        emb, k=sim.K, n_queries=sim.ANN_NQ, n_est=sim._emb_rows(SF_SMOKE)
    )
    assert _sorted_rows(sim.s3_lsh_ann(spark, SF_SMOKE), "qid", "rk") == (
        _sorted_rows(direct, "qid", "rk")
    )

    # s12 adds only the graph deposit on top of the shared exact20
    sim.s12_graph_recall(spark, SF_SMOKE).collect()
    assert sim_family.COMPUTES["graph"] == 1
    assert sim_family.COMPUTES["exact20"] == 1

    # s17's probe sweep: the nprobe=3 point IS s6's ivf20 deposit
    # (same name+params address — reused), so the sweep builds only
    # the two new operating points; a second sweep computes nothing
    sim.s17_ivf_probe_sweep(spark, SF_SMOKE).collect()
    assert sim_family.COMPUTES["ivf20"] == 3  # 1 (s6) + nprobe 1 and 2
    assert sim_family.COMPUTES["exact20"] == 1
    snapshot = dict(sim_family.COMPUTES)
    sim.s17_ivf_probe_sweep(spark, SF_SMOKE).collect()
    assert dict(sim_family.COMPUTES) == snapshot  # zero recomputes


def test_lm_family_trains_once_for_both_consumers(spark, monkeypatch, tmp_path):
    """The LM score store (queries/lm_family.py, r14): the first of
    d56/d54 pays the corpus-sized trigram train+score chain; the
    other reads the per_doc3 deposit and computes nothing — and the
    deposit-backed per-doc table is bit-identical to the direct
    _d56_per_doc run (DEC sums + per-doc doubles survive the parquet
    roundtrip exactly)."""
    from yuki_spark.operators import text
    from yuki_spark.queries import docs as docsq
    from yuki_spark.queries import lm_family

    monkeypatch.setenv("YUKI_SPARK_LM_STORE", str(tmp_path / "lmstore"))
    lm_family.COMPUTES.clear()

    docsq.d56_trigram_lm_perplexity(spark, SF_SMOKE).collect()
    assert lm_family.COMPUTES == {"per_doc3": 1}
    docsq.d54_perplexity_filter(spark, SF_SMOKE).collect()
    docsq.d56_trigram_lm_perplexity(spark, SF_SMOKE).collect()
    assert lm_family.COMPUTES == {"per_doc3": 1}  # zero retrains

    direct = docsq._d56_per_doc(
        text.with_tokens(load(spark, SF_SMOKE, "documents"))
    )
    assert _sorted_rows(
        lm_family.scored_per_doc3(spark, SF_SMOKE), "doc_id"
    ) == _sorted_rows(direct, "doc_id")

    # the classifier pair (r14 review's double-train finding): ONE
    # training run deposits both the curve and the averaged weights;
    # d59 then d60 share it, and the deposit-backed artifacts are
    # bit-identical to a direct perceptron_train run
    from yuki_spark.operators import classifier

    docsq.d59_classifier_train(spark, SF_SMOKE).collect()
    assert lm_family.COMPUTES.get("clf_curve") == 1
    assert lm_family.COMPUTES.get("clf_w") == 1
    docsq.d60_learned_classifier_filter(spark, SF_SMOKE).collect()
    docsq.d59_classifier_train(spark, SF_SMOKE).collect()
    assert lm_family.COMPUTES.get("clf_curve") == 1  # zero retrains
    assert lm_family.COMPUTES.get("clf_w") == 1

    docs = load(spark, SF_SMOKE, "documents")
    d_report, d_w = classifier.perceptron_train(
        docsq._clf_features(docs),
        docsq._clf_labels(docs),
        docsq.CLF_TRAIN_ITERS,
    )
    curve, w = lm_family.clf_artifacts(spark, SF_SMOKE)
    assert _sorted_rows(curve, "iteration") == _sorted_rows(
        d_report, "iteration"
    )
    assert _sorted_rows(w, "bucket") == _sorted_rows(d_w, "bucket")


def test_bpe_learned_trains_once_for_both_consumers(spark, monkeypatch, tmp_path):
    """The learned-BPE deposits (r14 optimization round): the first of
    d57/d58 pays the training iterations; the other reads the
    bpe.merges57 / bpe.learned_vocab deposits and trains zero times —
    and the deposit-backed artifacts are bit-identical to a direct
    train+apply run (including the warm-merges path, where the apply's
    per-rank frames are reconstructed FROM the deposit)."""
    from yuki_spark.operators import bpe as bpe_mod
    from yuki_spark.queries import docs as docsq

    monkeypatch.setenv("YUKI_SPARK_DEDUP_STORE", str(tmp_path / "bpestore"))
    docsq._BPE_COMPUTES.clear()

    d57 = _sorted_rows(docsq.d57_bpe_train(spark, SF_SMOKE), "iteration")
    assert docsq._BPE_COMPUTES.get("bpe_merges57") == 1
    assert "bpe_learned_vocab" not in docsq._BPE_COMPUTES  # d57 alone
    # d58 reuses the merges deposit; its vt builder reconstructs the
    # per-rank frames FROM the deposit (stash empty in a fresh call)
    d58 = _sorted_rows(docsq.d58_learned_bpe_budget(spark, SF_SMOKE), "source")
    assert docsq._BPE_COMPUTES.get("bpe_merges57") == 1  # zero retrains
    assert docsq._BPE_COMPUTES.get("bpe_learned_vocab") == 1
    docsq.d58_learned_bpe_budget(spark, SF_SMOKE).collect()
    assert docsq._BPE_COMPUTES.get("bpe_learned_vocab") == 1

    # direct (deposit-less) twin: train on the capped vocab, apply to
    # the full distinct vocabulary — the pre-r14 inline chain
    words = docsq._bpe_corpus_words(spark, SF_SMOKE)
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(docsq.D57_VOCAB)
    )
    report, tops = bpe_mod.bpe_train_merge_frames(vocab, docsq.D57_MERGES)
    assert d57 == _sorted_rows(report, "iteration")
    vt_direct = bpe_mod.bpe_apply_merge_frames(words.distinct(), tops)
    _rep, vt = docsq._bpe_learned(spark, SF_SMOKE, need_vt=True)
    assert _sorted_rows(vt, "word") == _sorted_rows(vt_direct, "word")
    assert len(d57) > 0 and len(d58) > 0


def _dedup_clusters_case(spark):
    return (
        dedup_family.clusters08(spark, SF_SMOKE),
        dedup.neardup_clusters(_docs(spark), 0.8),
        ("doc_id",),
    )


def _sim_lsh_case(spark):
    from yuki_spark.operators import similarity
    from yuki_spark.queries import sim

    emb = sim.load(spark, SF_SMOKE, "embeddings")
    return (
        sim.s3_lsh_ann(spark, SF_SMOKE),
        similarity.lsh_ann(
            emb, k=sim.K, n_queries=sim.ANN_NQ, n_est=sim._emb_rows(SF_SMOKE)
        ),
        ("qid", "rk"),
    )


def _lm_per_doc3_case(spark):
    from yuki_spark.operators import text
    from yuki_spark.queries import docs as docsq
    from yuki_spark.queries import lm_family

    return (
        lm_family.scored_per_doc3(spark, SF_SMOKE),
        docsq._d56_per_doc(text.with_tokens(load(spark, SF_SMOKE, "documents"))),
        ("doc_id",),
    )


@pytest.mark.parametrize(
    "env_var, case",
    [
        ("YUKI_SPARK_DEDUP_STORE", _dedup_clusters_case),
        ("YUKI_SPARK_SIM_STORE", _sim_lsh_case),
        ("YUKI_SPARK_LM_STORE", _lm_per_doc3_case),
    ],
    ids=["dedup", "sim", "lm"],
)
def test_unwritable_store_degrades_to_unpersisted(
    spark, monkeypatch, tmp_path, env_var, case
):
    """Correctness is never hostage to the store disk: with an
    unwritable store root the family queries still produce their
    (identical) results, just without deposit reuse."""
    blocked = tmp_path / "blocked"
    blocked.write_text("a file, not a directory")  # mkdir will fail
    monkeypatch.setenv(env_var, str(blocked / "store"))
    got, want, order = case(spark)
    assert _sorted_rows(got, *order) == _sorted_rows(want, *order)


def test_default_store_root_private_and_uid_suffixed(tmp_path, monkeypatch):
    """The fallback store root must be exclusively ours: uid-suffixed,
    mode 0700, refused (-> store-less compute) when a pre-existing dir
    is group/other-accessible, and an explicit env override honored
    verbatim (the operator's choice, e.g. a cluster shared fs)."""
    import os
    import tempfile

    from yuki_spark.queries.artifact_store import default_store_root

    monkeypatch.delenv("YUKI_SPARK_DEDUP_STORE", raising=False)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    root = default_store_root("YUKI_SPARK_DEDUP_STORE", "fam")
    assert root is not None and root.endswith(f"fam-{os.getuid()}")
    assert (os.stat(root).st_mode & 0o777) == 0o700
    # second call: same root, still accepted
    assert default_store_root("YUKI_SPARK_DEDUP_STORE", "fam") == root

    # a pre-created world-readable dir at the default path is refused
    bad = tmp_path / f"fam2-{os.getuid()}"
    bad.mkdir(mode=0o755)
    assert default_store_root("YUKI_SPARK_DEDUP_STORE", "fam2") is None

    # a pre-planted SYMLINK at the default path is refused even when
    # its target is a directory we own at mode 0700 (redirect attack)
    target = tmp_path / "victim"
    target.mkdir(mode=0o700)
    (tmp_path / f"fam4-{os.getuid()}").symlink_to(target)
    assert default_store_root("YUKI_SPARK_DEDUP_STORE", "fam4") is None

    # env override: returned verbatim, no uid suffix, no refusal
    monkeypatch.setenv("YUKI_SPARK_DEDUP_STORE", str(tmp_path / "explicit"))
    assert default_store_root("YUKI_SPARK_DEDUP_STORE", "fam3") == str(
        tmp_path / "explicit"
    )


def test_table_fingerprint_catches_same_size_same_mtime_rewrite(tmp_path):
    """The footer-tail content probe: a part file rewritten in-place at
    identical byte size AND identical mtime (coarse-mtime filesystems)
    must still change the table fingerprint."""
    import os

    from yuki_spark.queries.artifact_store import table_fingerprint

    f = tmp_path / "documents.parquet"
    f.write_bytes(b"A" * 4096 + b"HEAD")
    st = os.stat(f)
    fp1 = table_fingerprint(str(tmp_path), "documents")
    f.write_bytes(b"A" * 4096 + b"TAIL")
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    fp2 = table_fingerprint(str(tmp_path), "documents")
    assert fp1 != fp2


def test_phash_collapse_equals_direct(spark, fresh_store):
    """d50's rep-grain deposit path is bit-identical to running the
    synth-PNG → decode → dHash → band pipeline over every document:
    the thumbnail is a pure function of the token SET, so equal-set
    members share their rep's fingerprint (incl. the empty-set group
    at Hamming 0 — all-zero cells hash to 0, like SimHash's empty
    fingerprint)."""
    from yuki_spark.operators import multimodal as mm

    rows = [
        (0, "a b c"),
        (1, "b a   c"),  # same set as 0 -> identical thumbnail
        (2, ""),
        (3, "   "),
        (4, "a b d"),
        (5, "x y z"),
        (6, "c b a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def direct(d):
        return dedup.hamming_pairs_from_hashes(
            mm.dhash56(mm.synth_token_png(d)), 6, n_chunks=7, chunk_bits=8
        )

    got = _sorted_rows(direct(docs), "doc_a", "doc_b")
    g = dedup.set_groups(docs)
    rp = dedup.hamming_pairs_from_hashes(
        mm.dhash56(
            mm.synth_token_png_from_sets(
                dedup.token_sets(dedup._rep_docs(docs, g))
            )
        ),
        6,
        n_chunks=7,
        chunk_bits=8,
    )
    collapsed = _sorted_rows(
        dedup.expand_rep_simhash_pairs(rp, g), "doc_a", "doc_b"
    )
    assert collapsed == got
    assert (0, 1, 0) in [(a, b, h) for a, b, h in collapsed]  # set-equal
    assert (2, 3, 0) in [(a, b, h) for a, b, h in collapsed]  # empty pair

    # and the deposit-backed query path matches the direct operator
    assert _sorted_rows(
        dedup_family.phash_pairs6(spark, SF_SMOKE), "doc_a", "doc_b"
    ) == _sorted_rows(direct(_docs(spark)), "doc_a", "doc_b")
