"""Known-answer unit tests for the dedup / similarity / text /
multimodal operators (SURVEY §5) on tiny hand-built inputs."""
from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from yuki_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
        (2, "the quick brown fox jumps over the lazy cat", "en", "a"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog", "en", "b"),  # exact dup of 1
        (4, "completely different words entirely unrelated text here", "en", "b"),
        (5, "le chat et la souris dansent dans le jardin", "fr", "b"),
        (6, "", "en", "b"),  # empty doc edge case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_dup_stats(spark, docs):
    got = {r["source"]: (r["n_docs"], r["n_unique"], r["n_dups"]) for r in dedup.exact_dup_stats(docs).collect()}
    # source b holds doc 3 (dup of doc 1 across sources — not within b)
    assert got["a"] == (2, 2, 0)
    assert got["b"] == (4, 4, 0)


def test_jaccard_pairs_known_value(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jac"] for r in dedup.jaccard_pairs(docs, 0.5).collect()}
    # docs 1 and 2: 8 distinct tokens each, 7 shared → J = 7/9
    assert pairs[(1, 2)] == pytest.approx(7 / 9)
    assert pairs[(1, 3)] == pytest.approx(1.0)  # exact dup
    assert (1, 4) not in pairs
    assert (2, 4) not in pairs


def test_minhash_lsh_finds_exact_and_near_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jac"] for r in dedup.minhash_lsh_pairs(docs, 0.7).collect()}
    assert pairs[(1, 3)] == pytest.approx(1.0)  # identical sigs always collide
    assert pairs.get((1, 2)) == pytest.approx(7 / 9)  # J=7/9 ≫ LSH s-curve knee
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_simhash_identical_docs_distance_zero(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.simhash_pairs(docs, 3).collect()}
    assert pairs[(1, 3)] == 0
    assert (1, 4) not in pairs


def test_lang_id_and_und(spark, docs):
    got = {r["doc_id"]: r["pred_lang"] for r in text.lang_scores(docs).collect()}
    assert got[1] == "en"
    assert got[5] == "fr"
    assert got[6] == "und"  # no stopword hits at all


def test_quality_score_bounds_and_ordering(spark, docs):
    got = {r["doc_id"]: r["quality"] for r in text.quality_features(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[1] > got[6]  # real text beats empty text


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "hello worlds")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fp"] for r in text.fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    vecs = rng.standard_normal((30, 64)).astype("float32")
    vecs[7] = vecs[0] * 2.0  # colinear with 0 → cosine 1
    rows = [(i, [float(x) for x in vecs[i]], int(i % 3)) for i in range(30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"), vecs


def test_mmr_rerank_diversifies(spark):
    """A near-duplicate of the top hit must NOT be picked second:
    MMR's diversity term demotes it below a moderately-relevant but
    diverse candidate; a plain top-k would keep the duplicate."""
    q = np.zeros(64, dtype="float64")
    q[0] = 1.0
    c1 = np.zeros(64)
    c1[0] = 1.0
    c1[1] = 0.1  # ~q, the top hit
    c2 = c1 + 1e-3  # near-duplicate of c1 (sim ≈ 1)
    c3 = np.zeros(64)
    c3[0] = 0.5
    c3[2] = 1.0  # moderately relevant, diverse
    rows = [
        (i, [float(x) for x in v], 0)
        for i, v in enumerate([q, c1, c2, c3])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pool = similarity.cosine_topk(df, k=3, n_queries=1)
    assert [r["cid"] for r in pool.collect()] == [1, 2, 3]  # plain order
    got = similarity.mmr_rerank(df, pool, m=3).collect()
    picks = [r["cid"] for r in got if r["qid"] == 0]
    assert picks[0] == 1  # relevance wins the first pick
    assert picks[1] == 3  # diversity demotes the near-dup of c1
    assert picks[2] == 2
    steps = [r["step"] for r in got]
    assert steps == [1, 2, 3]
    # step-1 score is pure relevance; later scores subtract max-sim
    by_step = {r["step"]: r for r in got}
    assert by_step[1]["mmr_score"] == by_step[1]["rel"]
    assert by_step[2]["mmr_score"] < by_step[2]["rel"]


def test_cosine_topk_matches_numpy(spark, emb):
    df, vecs = emb
    got = similarity.cosine_topk(df, k=3, n_queries=2).collect()
    v = vecs.astype("float64")
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    S = vn @ vn.T
    for r in got:
        assert r["cosine"] == pytest.approx(S[r["qid"], r["cid"]], abs=1e-6)
    top1 = {r["qid"]: r["cid"] for r in got if r["rk"] == 1}
    assert top1[0] == 7  # colinear vector wins for query 0


def test_neardup_pairs_finds_colinear(spark, emb):
    df, _ = emb
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in similarity.cosine_neardup_pairs(df, 0.95).collect()}
    assert pairs[(0, 7)] == pytest.approx(1.0, abs=1e-6)


def test_neardup_lsh_subset_and_recall_of_exact(spark, emb):
    """The LSH path emits only true pairs (subset of exact, identical
    cosines) and recalls most of them at the shipped threshold."""
    df, _ = emb
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_neardup_pairs(df, 0.3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_neardup_pairs_exact(df, 0.3).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)  # verification is exact
    assert len(exact) > 0 and len(lsh) / len(exact) >= 0.7


def test_ivf_ann_shape_and_self_exclusion(spark, emb):
    df, _ = emb
    got = similarity.ivf_ann(df, k=2, n_queries=3, nprobe=3).collect()
    assert all(r["qid"] != r["cid"] for r in got)
    per_q = {q: [r for r in got if r["qid"] == q] for q in {r["qid"] for r in got}}
    for q, rows in per_q.items():
        assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == list(range(1, len(rows) + 1))
        assert len(rows) <= 2


def test_semdedup_greedy_drop_rule(spark, emb):
    """Known answer: the colinear pair (0, 7) is the only cosine ≥ 0.95
    pair, so the later-in-greedy-order member is dropped and everything
    else survives; cell leaders carry a NULL prior cosine."""
    df, _ = emb
    rows = {r["vec_id"]: r for r in similarity.semdedup(df, threshold=0.95).collect()}
    assert len(rows) == 30
    a, b = rows[0], rows[7]
    assert a["cell"] == b["cell"]  # colinear ⇒ identical affinities ⇒ same cell
    later, earlier = (b, a) if b["pos"] > a["pos"] else (a, b)
    assert earlier["kept"] and not later["kept"]
    assert later["max_prior_cos"] >= 0.95
    for r in rows.values():
        if r["pos"] == 1:
            assert r["max_prior_cos"] is None and r["kept"]
    assert sum(not r["kept"] for r in rows.values()) == 1


def test_semdedup_cell_resplit_bounds_groups(spark, emb):
    """Oversized cells split deterministically: subcell stays 0 when
    cells fit the cap, engages under a tiny cap and bounds group sizes,
    and colinear vectors (identical sign bits) never separate."""
    from collections import Counter

    df, _ = emb
    base = similarity.semdedup(df, threshold=0.95, max_cell=256).collect()
    assert all(r["subcell"] == 0 for r in base)
    out = similarity.semdedup(df, threshold=0.95, max_cell=4).collect()
    assert len(out) == 30
    assert any(r["subcell"] > 0 for r in out)
    sizes = Counter((r["cell"], r["subcell"]) for r in out)
    assert max(sizes.values()) <= 8  # unsplit cells hold 10+
    pair = [r for r in out if r["vec_id"] in (0, 7)]
    assert (pair[0]["cell"], pair[0]["subcell"]) == (pair[1]["cell"], pair[1]["subcell"])
    assert sum(not r["kept"] for r in pair) == 1


def test_adaptive_lsh_parameters():
    """Integer-exact scaling formulas and prefix-stable plane stream."""
    assert similarity.adaptive_bits(500) == 4
    assert similarity.adaptive_bits(128 << 4) == 4
    assert similarity.adaptive_bits((128 << 4) + 1) == 5
    assert similarity.adaptive_bits(20000) == 8
    assert similarity.adaptive_planes(500) == 8
    assert similarity.adaptive_planes(20000) == 12
    assert (similarity.lsh_planes(64) == similarity.lsh_planes(128)[:64]).all()
    # int64 bucket-id budget (r8 widening): 31 bits — the old int32
    # ceiling a 100 TB embedding corpus approaches — now passes; the
    # refusal moved to 62 bits, past which `1 << i` would overflow
    assert similarity.adaptive_bits(128 << 31) == 31
    assert similarity.adaptive_bits((128 << 31) + 1) == 32
    assert similarity.adaptive_bits(128 << 62) == 62
    with pytest.raises(ValueError, match="int64 bucket-id budget"):
        similarity.adaptive_bits((128 << 62) + 1)


def test_multimodal_roundtrip(spark, docs):
    media = multimodal.synth_media(docs.where("doc_id <= 3"))
    feats = {r["doc_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert feats[1]["checksum"] == feats[3]["checksum"]  # same text → same payload
    assert feats[1]["checksum"] != feats[2]["checksum"]
    assert 64 <= feats[1]["width"] <= 1024 + 64 and 64 <= feats[1]["height"] <= 1024 + 64


def test_dedup_clusters_match_union_find(spark, docs):
    """Components from min-label propagation must equal a driver-side
    union-find over the same pairs (plus a chain forcing >1 round)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)]:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want
    assert got[4] == 1 and got[22] == 20 and got[11] == 10


def test_apply_dedup_keeps_canonical_only(spark):
    """Unclustered docs survive; inside a cluster only the min-id
    representative does."""
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 7, 9)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (9, 3)], "doc_id long, cluster_id long"
    )
    kept = sorted(
        r["doc_id"] for r in dedup.apply_dedup(docs, clusters).collect()
    )
    assert kept == [1, 3, 7]  # 2 and 9 are non-canonical members


def test_corpus_split_is_content_keyed(spark):
    """Byte-identical texts must land in the same split (dup-leakage
    guard), splits partition the corpus, and the assignment is the
    portable hash mod 100 — recomputed driver-side for a spot doc."""
    import hashlib

    from yuki_spark.queries.docs import d21_corpus_split
    from tests.conftest import SF_SMOKE

    out = d21_corpus_split(spark, SF_SMOKE).collect()
    n_total = sum(r["n_docs"] for r in out)
    from yuki_spark.catalog import load

    docs = load(spark, SF_SMOKE, "documents")
    assert n_total == docs.count()
    assert {r["split"] for r in out} <= {"train", "val", "test"}

    one = docs.select("text").first()["text"]
    h = int(hashlib.md5(one.encode()).hexdigest()[:15], 16) % 100
    want = "train" if h < 90 else ("val" if h < 95 else "test")
    from pyspark.sql import functions as F
    from yuki_spark.functions import portable_hash60

    got = (
        docs.where(F.col("text") == one)
        .select((portable_hash60("text") % 100).alias("b"))
        .first()["b"]
    )
    assert ("train" if got < 90 else ("val" if got < 95 else "test")) == want


def test_merge_upsert(spark):
    from yuki_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "id long, name string, v double"
    )
    got = {r["id"]: (r["name"], r["v"]) for r in merge_upsert(target, updates, ["id"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    with pytest.raises(ValueError):
        merge_upsert(target, updates, [])


def test_merge_scd2_versions_history(spark):
    from datetime import datetime

    from yuki_spark.operators.merge import merge_scd2

    t = lambda d: datetime(2024, 1, d)
    current = spark.createDataFrame(
        [(1, "x", t(1), None, True), (2, "y", t(1), None, True)],
        "id long, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "x2", t(5)), (3, "z", t(6))], "id long, attr string, valid_from timestamp"
    )
    out = merge_scd2(current, updates, ["id"], "valid_from").collect()
    rows = {(r["id"], r["attr"]): r for r in out}
    assert len(out) == 4
    old = rows[(1, "x")]
    assert old["is_current"] is False and old["valid_to"] == t(5)
    new = rows[(1, "x2")]
    assert new["is_current"] is True and new["valid_to"] is None
    untouched = rows[(2, "y")]
    assert untouched["is_current"] is True and untouched["valid_to"] is None
    assert rows[(3, "z")]["is_current"] is True


def test_merge_scd2_multi_version_batch_single_open_row(spark):
    """Two updates to the same key in one batch: the earlier version
    is closed by the later one — exactly one open row per key."""
    from datetime import datetime

    from yuki_spark.operators.merge import merge_scd2

    t = lambda d: datetime(2024, 1, d)
    current = spark.createDataFrame(
        [(1, "x", t(1), None, True)],
        "id long, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "x2", t(5)), (1, "x3", t(9))], "id long, attr string, valid_from timestamp"
    )
    out = merge_scd2(current, updates, ["id"], "valid_from").collect()
    rows = {r["attr"]: r for r in out}
    assert len(out) == 3
    assert rows["x"]["is_current"] is False and rows["x"]["valid_to"] == t(5)
    assert rows["x2"]["is_current"] is False and rows["x2"]["valid_to"] == t(9)
    assert rows["x3"]["is_current"] is True and rows["x3"]["valid_to"] is None
    assert sum(1 for r in out if r["is_current"]) == 1


def test_merge_scd2_equal_timestamps_deterministic(spark):
    """Two same-key updates with identical effective timestamps must
    resolve the same way on every run: ties break on the remaining
    columns, the lexicographically greatest row stays open."""
    from datetime import datetime

    from yuki_spark.operators.merge import merge_scd2

    t = lambda d: datetime(2024, 1, d)
    current = spark.createDataFrame(
        [(1, "x", t(1), None, True)],
        "id long, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "a", t(5)), (1, "b", t(5))], "id long, attr string, valid_from timestamp"
    )
    for _ in range(3):
        out = merge_scd2(
            current, updates.repartition(4), ["id"], "valid_from"
        ).collect()
        open_rows = [r for r in out if r["is_current"]]
        assert len(open_rows) == 1
        assert open_rows[0]["attr"] == "b"  # greatest tiebreak wins, every run


def test_dedup_clusters_raises_on_non_convergence(spark):
    """A chain whose diameter exceeds max_iter must fail loudly, not
    return a silently non-minimal labeling."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        dedup.dedup_clusters(chain, max_iter=2)
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dedup_clusters(chain).collect()}
    assert set(got.values()) == {1}  # ample budget: one component, label 1


def test_range_join_left_keeps_unmatched_points(spark):
    from yuki_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 40)], "pid long, x double"
    ).select("pid", F.timestamp_seconds("x").alias("t"))
    intervals = spark.createDataFrame(
        [(1, 10.0, 20.0)], "iid long, s double, e double"
    ).select(
        "iid", F.timestamp_seconds("s").alias("ts_s"), F.timestamp_seconds("e").alias("ts_e")
    )
    got = range_join(points, intervals, "t", "ts_s", "ts_e", bucket_sec=7, how="left")
    rows = got.collect()
    assert len(rows) == 40  # every point survives exactly once
    matched = {r["pid"] for r in rows if r["iid"] is not None}
    assert matched == set(range(10, 21))
    with pytest.raises(ValueError):
        range_join(points, intervals, "t", "ts_s", "ts_e", how="full")


def test_simhash_packs_top_bit_without_overflow():
    """All-ones majority vector sets bit 63; packing must reinterpret
    (uint64 view) rather than convert — NumPy 2.x raises on overflow."""
    import pandas as pd

    from yuki_spark.operators.dedup import _simhash64

    fn = _simhash64.func  # unwrap the pandas_udf
    out = fn(pd.Series([[-1, -1, -1], None, []]))
    assert int(out.iloc[0]) == -1  # 0xFFFF... reinterpreted as int64
    assert int(out.iloc[1]) == 0 and int(out.iloc[2]) == 0


def test_asof_join_matches_merge_asof(spark):
    import pandas as pd

    from yuki_spark.operators.joins import asof_join

    rng = np.random.RandomState(3)
    trades = pd.DataFrame(
        {
            "g": rng.randint(0, 3, 40),
            "t": pd.to_datetime(rng.randint(0, 10_000, 40), unit="s"),
        }
    ).sort_values("t").reset_index(drop=True)
    quotes = pd.DataFrame(
        {
            "g": rng.randint(0, 3, 25),
            "t": pd.to_datetime(rng.randint(0, 10_000, 25), unit="s"),
            "px": rng.uniform(1, 2, 25).round(4),
        }
    ).sort_values("t").reset_index(drop=True)
    left = spark.createDataFrame(trades.assign(row=range(len(trades))))
    right = spark.createDataFrame(quotes)

    got = asof_join(left, right, on="t", by="g", value_cols=["px"], strict=True)
    got_map = {r["row"]: r["asof_px"] for r in got.collect()}

    want = pd.merge_asof(
        trades.assign(row=range(len(trades))).sort_values("t"),
        quotes.sort_values("t"),
        on="t",
        by="g",
        allow_exact_matches=False,  # strict <
    )
    for _, r in want.iterrows():
        g = got_map[r["row"]]
        if pd.isna(r["px"]):
            assert g is None, r
        else:
            assert g == pytest.approx(r["px"]), r


def test_salted_join_equals_plain_join(spark):
    from yuki_spark.operators.joins import salted_join

    skewed = spark.range(0, 2000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, name string")
    got = salted_join(skewed, small, "k", n_salts=8, tiebreak="payload")
    plain = skewed.join(small, "k")
    assert got.count() == plain.count() == 2000
    assert got.exceptAll(plain).count() == 0
    # salts actually spread the hot key across partitions
    spread = (
        skewed.withColumn("s", F.pmod(F.xxhash64("payload"), F.lit(8)))
        .where("k = 0").select("s").distinct().count()
    )
    assert spread == 8


def test_range_join_exactness(spark):
    from yuki_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 100)], "pid long, x double"
    ).select("pid", F.timestamp_seconds("x").alias("t"))
    intervals = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 15.0, 15.0), (3, 95.0, 200.0)], "iid long, s double, e double"
    ).select(
        "iid", F.timestamp_seconds("s").alias("ts_s"), F.timestamp_seconds("e").alias("ts_e")
    )
    got = range_join(points, intervals, "t", "ts_s", "ts_e", bucket_sec=7)
    counts = {r["iid"]: 0 for r in intervals.collect()}
    for r in got.collect():
        counts[r["iid"]] += 1
    assert counts == {1: 11, 2: 1, 3: 5}  # inclusive bounds, clipped at 99


def test_resize_and_frame_sample_shapes(spark, docs):
    media = multimodal.synth_media(docs.where("doc_id <= 3")).select("doc_id", "media")
    resized = multimodal.resize(media, 64, 64)
    rows = resized.collect()
    assert all(len(bytes(r["media"])) == 64 * 64 for r in rows)
    assert all(r["width"] == 64 and r["height"] == 64 for r in rows)

    frames = multimodal.frame_sample(resized, n_frames=4, frame_bytes=64).collect()
    assert len(frames) == 3 * 4  # 1 -> N fan-out
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
        assert len(bytes(r["frame"])) <= 64
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())


def test_video_payload_raises_loud_without_codec():
    """A REAL video container must never silently degrade to the
    byte-slice stand-in: without PyAV the decode raises the one
    documented media error (is_video sniffs MP4/MKV/AVI)."""
    from yuki_spark.operators import codecs

    fake_mp4 = b"\x00\x00\x00\x18ftypisom" + b"\x00" * 64
    assert codecs.is_video(fake_mp4)
    assert not codecs.is_video(b"plain text payload, no container")
    if codecs._HAS_AV:
        # with the codec present a garbage body must still normalize
        # to UnsupportedMediaError, not leak av internals
        with pytest.raises(codecs.UnsupportedMediaError):
            codecs.decode_video_keyframes(fake_mp4)
    else:
        with pytest.raises(codecs.UnsupportedMediaError, match="PyAV"):
            codecs.decode_video_keyframes(fake_mp4)


def test_frame_sample_real_video_keyframes(spark):
    """With PyAV importable, frame_sample extracts REAL keyframes from
    a real MP4 (encoded here with av itself) and returns them as
    deterministic PNGs; skipped where the codec is absent."""
    av = pytest.importorskip("av")
    import io as _io

    import numpy as np

    from yuki_spark.operators import codecs

    buf = _io.BytesIO()
    with av.open(buf, "w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=4)
        stream.width, stream.height, stream.pix_fmt = 16, 16, "yuv420p"
        for i in range(8):
            img = np.full((16, 16, 3), i * 30, np.uint8)
            frame = av.VideoFrame.from_ndarray(img, format="rgb24")
            for pkt in stream.encode(frame):
                container.mux(pkt)
        for pkt in stream.encode():
            container.mux(pkt)
    payload = buf.getvalue()
    assert codecs.is_video(payload)

    kf = codecs.decode_video_keyframes(payload, n_frames=2)
    assert 1 <= len(kf) <= 2
    for w, h, png in kf:
        assert (w, h) == (16, 16)
        assert codecs.is_png(png)
        pw, ph, ch, _px = codecs.decode_png(png)
        assert (pw, ph, ch) == (16, 16, 3)

    df = spark.createDataFrame(
        [(0, bytearray(payload))], "doc_id long, media binary"
    )
    rows = multimodal.frame_sample(df, n_frames=2).collect()
    assert rows and all(codecs.is_png(bytes(r["frame"])) for r in rows)


def test_sampling_stable_and_disjoint(spark):
    from yuki_spark.operators import sampling

    df = spark.range(0, 10_000).select(F.col("id").alias("doc_id"))
    s1 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.2).collect()}
    s2 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.2).collect()}
    assert s1 == s2  # stable across runs
    assert 0.15 < len(s1) / 10_000 < 0.25  # near the asked fraction

    train, ev = sampling.split_train_eval(df, "doc_id", 0.1)
    t = {r["doc_id"] for r in train.collect()}
    e = {r["doc_id"] for r in ev.collect()}
    assert t.isdisjoint(e) and len(t) + len(e) == 10_000
    # growing the sample keeps earlier members (nested by construction)
    s_small = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.1).collect()}
    assert s_small <= s1


def test_stratified_sample_counts(spark, docs):
    from yuki_spark.operators import sampling

    got = sampling.stratified_sample(docs, "lang", "doc_id", 2).collect()
    per = {}
    for r in got:
        per.setdefault(r["lang"], 0)
        per[r["lang"]] += 1
    n_docs = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(2, n_docs[lang])


def test_incremental_agg_equals_full_recompute(spark):
    """Maintaining state over three arriving chunks must equal the
    one-shot aggregate over all rows."""
    from yuki_spark.operators import incremental as inc

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    spec = {
        "revenue": ("sum", "l_extendedprice"),
        "n_lines": ("count", "l_extendedprice"),
        "max_qty": ("max", "l_quantity"),
        "avg_disc": ("avg", "l_discount"),
    }
    keys = ["l_returnflag"]

    chunks = [
        li.where("l_orderkey % 3 = 0"),
        li.where("l_orderkey % 3 = 1"),
        li.where("l_orderkey % 3 = 2"),
    ]
    state = None
    for ch in chunks:
        state = inc.merge_states(state, inc.compute_state(ch, keys, spec), keys, spec)
        state = state.localCheckpoint()  # simulate persisted state table
    got = {tuple(r) for r in inc.finalize(state, keys, spec).collect()}

    want = {
        tuple(r)
        for r in inc.finalize(inc.compute_state(li, keys, spec), keys, spec).collect()
    }
    assert got == want  # exact: decimal state makes merge order irrelevant


def test_sketches_error_bounds(spark):
    from yuki_spark.operators import sketches

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")

    # HLL within its stated relative error on every group
    approx = {r["event_type"]: r["approx_distinct"] for r in sketches.hll_distinct(ev, "event_type", "user_id", rsd=0.05).collect()}
    exact = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(3, 0.15 * n), (t, approx[t], n)

    # Count-Min: upper-biased, within eps*N of truth
    cmp = sketches.topk_exact_vs_sketch(ev, "event_type", k=5, eps=0.001).collect()
    n_total = ev.count()
    assert len(cmp) == 5
    for r in cmp:
        assert r["est_count"] >= r["true_count"]  # CM never undercounts
        assert r["est_count"] - r["true_count"] <= 0.001 * n_total + 1


def test_heavy_hitters_key_type_and_nulls(spark):
    """Non-string key columns are refused loudly (the probe replays
    the JVM's STRING murmur3 path only); null candidate keys estimate
    as NULL (count_min_sketch skips nulls when building)."""
    from yuki_spark.operators import sketches

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    with pytest.raises(TypeError, match="only string key columns"):
        sketches.heavy_hitters(
            ev.select(F.col("user_id").alias("k")),
            "k",
            ev.select(F.col("user_id").alias("k")).limit(3),
        )

    cands = spark.createDataFrame(
        [("view",), (None,)], "event_type string"
    )
    got = {
        r["event_type"]: r["est_count"]
        for r in sketches.heavy_hitters(ev, "event_type", cands).collect()
    }
    assert got[None] is None
    assert got["view"] >= 1


def test_cm_python_probe_matches_jvm(spark):
    """The broadcast-table pandas-UDF probe reimplements the JVM
    CountMinSketch string path (layout parse + double murmur3);
    lock bit-equality against the real JVM sketch, including unseen,
    unicode, empty, and >4-byte-tail keys."""
    from yuki_spark.operators import sketches

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    sk = sketches.cm_sketch(ev, "event_type", 0.001, 0.99)
    d, w, t = sketches.parse_cm_sketch(sk)
    jvm = spark.sparkContext._jvm
    jcms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytearray(sk))
    )
    keys = [r[0] for r in ev.select("event_type").distinct().collect()]
    keys += ["missing_key", "äöü✓", "", "abc", "a" * 37]
    for k in keys:
        assert sketches.cm_estimate_string(d, w, t, k) == int(jcms.estimateCount(k)), k


def test_repetition_features_known_values(spark):
    rows = [
        (1, "a b a b a", "en", "s"),   # bigrams: ab ba ab ba -> 2 distinct of 4
        (2, "x y z", "en", "s"),        # bigrams: xy yz -> all distinct
        (3, "w", "en", "s"),            # no bigram -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = {r["doc_id"]: r for r in text.repetition_features(df).collect()}
    assert set(got) == {1, 2}
    assert (got[1]["n_bigrams"], got[1]["n_distinct"], got[1]["max_ct"]) == (4, 2, 2)
    assert got[1]["top_frac"] == pytest.approx(0.5)
    assert (got[2]["n_bigrams"], got[2]["n_distinct"], got[2]["max_ct"]) == (2, 2, 1)


def test_ngram_contamination_known_values(spark):
    # doc 0 is the eval split (0 % 17 == 0); docs 1-2 are training.
    rows = [
        (0, "a b c d", "en", "s"),      # eval trigrams: {abc, bcd}
        (1, "a b c x", "en", "s"),      # trigrams {abc, bcx}: 1/2 contaminated
        (2, "p q r s", "en", "s"),      # {pqr, qrs}: 0/2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = {r["doc_id"]: r for r in text.ngram_contamination(df, n=3, eval_mod=17).collect()}
    assert set(got) == {1, 2}  # eval doc excluded from the scored corpus
    assert (got[1]["n_grams"], got[1]["n_hits"]) == (2, 1)
    assert got[1]["contamination"] == pytest.approx(0.5)
    assert (got[2]["n_grams"], got[2]["n_hits"]) == (2, 0)


def test_quantize_error_bounds_and_exactness(spark):
    # vectors whose max-abs element must quantize to exactly ±127 and
    # whose error numerators stay below m/2 (round-half-away bound)
    rows = [
        (1, [0.5, -0.25, 0.125, 0.0], 0),
        (2, [-1.0, 0.5, 0.333, 0.1], 0),
        (3, [0.0, 0.0, 0.0, 0.0], 1),  # all-zero: m=0, excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in similarity.quantize_error(df).collect()}
    assert 1 not in out  # zero vector contributes nothing
    r = out[0]
    assert (r["n_vecs"], r["n_elems"]) == (2, 8)
    # error numerator per element is < m/2 with m <= 2^20 -> sse bound
    assert 0 <= r["sse_num"] < 8 * (2**19) ** 2
    assert r["mse_num"] == pytest.approx(r["sse_num"] / 8)
    # exact representable values: 0.5*2^20 etc. quantize with zero error
    one = similarity.quantize_error(
        df.where("vec_id = 1")
    ).collect()[0]
    # m = 0.5*2^20; q for 0.5 is 127, err = 127*m - 127*m = 0; for
    # -0.25 -> q = -(127/2 rounded) = -64 -> err = -64m + 63.5m != 0
    assert one["sse_num"] > 0


def test_pii_scan_counts_and_redaction(spark):
    rows = [
        (1, "mail bob@example.com or call +1 (555) 123-4567 now", "en", "s"),
        (2, "ssn 123-45-6789 from host 192.168.0.1", "en", "s"),
        (3, "no pii here at all", "en", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = {r["doc_id"]: r for r in text.pii_scan(df).collect()}
    assert (got[1]["n_email"], got[1]["n_phone"]) == (1, 1)
    assert "<EMAIL>" in got[1]["redacted"] and "<PHONE>" in got[1]["redacted"]
    assert "bob@" not in got[1]["redacted"]
    # disjoint categories: the SSN is not also counted as a phone,
    # the IP is not a phone either
    assert (got[2]["n_ssn"], got[2]["n_ipv4"], got[2]["n_phone"]) == (1, 1, 0)
    assert got[2]["redacted"] == "ssn <SSN> from host <IPV4>"
    assert got[3]["n_pii"] == 0 and got[3]["redacted"] == got[3]["text"]


def test_ann_recall_sane(spark):
    from yuki_spark.queries.sim import s6_ann_recall

    out = {r["index"]: r for r in s6_ann_recall(spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == {"ivf", "lsh", "pq"}
    for r in out.values():
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_possible"] == 60
    # probing 3 of 10 cells must beat random chance by a wide margin
    assert out["ivf"]["recall"] > 0.3


def test_probe_sweep_recall_monotone(spark):
    """Probing more cells can only ADD candidates, so s17's curve must
    be non-decreasing in nprobe — and its nprobe=3 point must equal
    s6's ivf row exactly (same deposit, same ground truth)."""
    from yuki_spark.queries.sim import IVF_SWEEP, s6_ann_recall, s17_ivf_probe_sweep

    rows = s17_ivf_probe_sweep(spark, "/root/testdata/sf0.001").collect()
    assert [r["nprobe"] for r in rows] == list(IVF_SWEEP)
    hits = [r["n_hits"] for r in rows]
    assert hits == sorted(hits)
    s6 = {r["index"]: r for r in s6_ann_recall(spark, "/root/testdata/sf0.001").collect()}
    assert rows[-1]["n_hits"] == s6["ivf"]["n_hits"]


def test_pq_shortlist_sweep_monotone_and_s19_consistent(spark):
    """Widening the ADC shortlist re-ranks a superset, so s20's curve
    must be non-decreasing in the shortlist (k = K: any candidate
    that evicts a true top-K neighbor is itself one) — and its
    production point must agree with s19's deposit (same table, same
    ground truth)."""
    from pyspark.sql import functions as F

    from yuki_spark.operators import similarity
    from yuki_spark.queries.sim import (
        PQ_SL_SWEEP,
        _exact20,
        s19_ivfpq_ann,
        s20_pq_shortlist_sweep,
    )

    sf = "/root/testdata/sf0.001"
    rows = s20_pq_shortlist_sweep(spark, sf).collect()
    assert [r["shortlist"] for r in rows] == list(PQ_SL_SWEEP)
    hits = [r["n_hits"] for r in rows]
    assert hits == sorted(hits)
    assert PQ_SL_SWEEP[-1] == similarity.PQ_SHORTLIST
    exact = _exact20(spark, sf).select("qid", "cid")
    s19_hits = (
        s19_ivfpq_ann(spark, sf)
        .select("qid", "cid")
        .join(exact, ["qid", "cid"])
        .agg(F.count(F.lit(1)).alias("n"))
        .first()["n"]
    )
    assert rows[-1]["n_hits"] == s19_hits


def test_sequence_packing_boundary_semantics(spark, tmp_path):
    """A doc belongs to the sequence where its first token lands:
    token counts 300,300,300 with budget 512 pack as [d0,d1],[d2]."""
    from yuki_spark.queries.docs import PACK_BUDGET, d18_sequence_packing

    assert PACK_BUDGET == 512
    rows = [
        (i, " ".join(["w"] * 300), "en", "s") for i in range(3)
    ] + [(10, " ".join(["w"] * 600), "fr", "s")]  # oversize doc: own seq
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["lang"]: r for r in d18_sequence_packing(spark, str(tmp_path)).collect()}
    en = got["en"]
    # cum-before: 0, 300, 600 -> seq ids 0, 0, 1
    assert (en["n_seqs"], en["n_docs"], en["total_tokens"]) == (2, 3, 900)
    assert en["max_seq_tokens"] == 600  # two 300s share seq 0
    fr = got["fr"]
    assert (fr["n_seqs"], fr["n_docs"], fr["max_seq_tokens"]) == (1, 1, 600)


def test_skyline_known_answer(spark):
    """Duplicates on the criteria both survive; dominated rows drop."""
    from yuki_spark.operators.skyline import skyline

    rows = [
        (1, 10.0, 5),   # frontier: cheapest
        (2, 20.0, 9),   # frontier: bigger
        (3, 20.0, 9),   # duplicate criteria of 2 → also survives
        (4, 25.0, 9),   # dominated by 2 (same size, pricier)
        (5, 30.0, 10),  # frontier: largest
        (6, 30.0, 3),   # dominated by 1
    ]
    df = spark.createDataFrame(rows, "id long, price double, size int")
    got = sorted(
        r["id"] for r in skyline(df, minimize=("price",), maximize=("size",)).collect()
    )
    assert got == [1, 2, 3, 5]


def test_skyline_global_resolve_spans_arrow_batches(spark):
    """The resolve phase must see ALL candidates at once: with tiny
    Arrow batches, two per-batch frontiers reach the resolve task in
    separate batches — a per-batch resolve would keep all 8 rows,
    the true skyline is the 4 dominating ones."""
    from yuki_spark.operators.skyline import skyline

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        rows = [(i, 20.0 + i, i) for i in range(4)] + [
            (4 + i, float(i), 10 + i) for i in range(4)
        ]  # each half is internally anti-correlated; second half dominates first
        df = spark.createDataFrame(rows, "id long, price double, size long").coalesce(1)
        got = sorted(
            r["id"]
            for r in skyline(df, minimize=("price",), maximize=("size",)).collect()
        )
        assert got == [4, 5, 6, 7]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def _python_ares_key(i: int, w: float) -> float:
    """Bit-exact Python twin of the engines' libm-free A-Res score
    (operators/sampling.py with_portable_log2_u): Python floats are
    IEEE-754 doubles evaluated in the same association order, so this
    reproduces the Spark/DuckDB score to the last bit."""
    from yuki_spark.operators.sampling import (
        _ATANH_COEFFS,
        _TWO_OVER_LN2,
        KNUTH,
        MOD,
    )

    b = (i * KNUTH) % MOD + 1
    e = sum(b >= (1 << k) for k in range(1, 33))
    m = b * (2.0 ** -e) if e else float(b)
    z = (m - 1.0) / (m + 1.0)
    z2 = z * z
    h = 1.0 / 19.0
    for c in _ATANH_COEFFS:
        h = h * z2 + c
    return ((e + ((z * h) * _TWO_OVER_LN2)) - 32.0) / w


def test_weighted_sample_prefers_heavy_rows(spark):
    """A-Res: 1000x-weighted rows dominate the sample; selection
    matches the exact Python twin of the libm-free hash/log2
    pipeline — bit-for-bit, no rounding tolerance."""
    from yuki_spark.operators.sampling import weighted_sample

    rows = [(i, 1000 if i % 2 == 0 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = weighted_sample(df, "doc_id", F.col("w"), 20).collect()
    ids = [r["doc_id"] for r in got]
    assert len(ids) == 20
    assert sum(1 for i in ids if i % 2 == 0) >= 16

    want = sorted(rows, key=lambda r: (-_python_ares_key(*r), r[0]))[:20]
    assert sorted(ids) == sorted(i for i, _ in want)
    # the displayed scores are the Python twin's doubles EXACTLY
    got_keys = {r["doc_id"]: r["ares_key"] for r in got}
    for i, w in want:
        assert got_keys[i] == _python_ares_key(i, w)


def test_weighted_sample_order_invariant_under_weight_scaling(spark):
    """A-Res property: scaling every weight by a constant must not
    change the selection or its order. With power-of-two scales the
    invariance is EXACT even in floating point (÷2^k is exact), so
    the whole selection pipeline must return identical rows."""
    from yuki_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    base = [
        r["doc_id"]
        for r in weighted_sample(df, "doc_id", F.col("w"), 30).collect()
    ]
    for scale in (0.25, 8.0, 1024.0):
        scaled = [
            r["doc_id"]
            for r in weighted_sample(
                df, "doc_id", F.col("w") * F.lit(scale), 30
            ).collect()
        ]
        assert scaled == base, f"selection changed under weight×{scale}"


def test_portable_log2_matches_true_log_to_series_precision(spark):
    """The libm-free log2 is the TRUE log2 to ~5e-12 (series
    truncation) across the whole u range — so rankings track exact
    A-Res — while remaining a deterministic IEEE expression."""
    import math

    from yuki_spark.operators.sampling import MOD, with_portable_log2_u

    df = spark.createDataFrame(
        [(i,) for i in range(0, 5000, 7)], "doc_id long"
    )
    got = with_portable_log2_u(df, "doc_id", "log2u").collect()
    from yuki_spark.operators.sampling import KNUTH

    for r in got:
        b = (r["doc_id"] * KNUTH) % MOD + 1
        true = math.log2(b / MOD)
        assert abs(r["log2u"] - true) < 1e-10, (r["doc_id"], r["log2u"], true)


def test_domain_mix_quotas_and_shortfall(spark):
    """Largest-remainder apportionment is deterministic (101 slots:
    en gets the leftover via its .5 fraction); a stratum smaller than
    its quota contributes all it has; unweighted strata contribute
    nothing."""
    from yuki_spark.operators.sampling import allocate_quotas, domain_mix

    q = allocate_quotas({"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}, 101)
    assert q == {"en": 51, "de": 15, "fr": 15, "es": 10, "zh": 10}
    # tie on fractional part (both 0.5) → name order wins
    assert allocate_quotas({"a": 0.5, "b": 0.5}, 3) == {"a": 2, "b": 1}
    # off-sum or negative weight vectors are rejected, not misallocated
    with pytest.raises(ValueError):
        allocate_quotas({"a": 0.5, "b": 0.5, "c": 0.1}, 10)
    with pytest.raises(ValueError):
        allocate_quotas({"a": -0.1, "b": 1.1}, 10)

    rows = [(i, "en" if i < 20 else ("de" if i < 23 else "xx")) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = domain_mix(df, "lang", "doc_id", {"en": 0.5, "de": 0.5}, 10).collect()
    per = {}
    for r in got:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    assert per.get("en") == 5
    assert per.get("de") == 3  # only 3 exist — shortfall, no reallocation
    assert "xx" not in per


def test_bloom_membership_semantics(spark):
    """Every build key probes as a candidate (zero false negatives by
    construction); non-members stay below the designed false-positive
    rate with wide margin; the probe preserves row multiplicity-free
    distinct rows and appends exactly one boolean column."""
    from pyspark.sql import functions as F

    from yuki_spark.operators.sketches import bloom_membership

    build = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)], "gram string"
    )
    probe = spark.createDataFrame(
        [(i, f"member-{i}" if i < 200 else f"other-{i}") for i in range(1200)],
        "rid long, gram string",
    )
    out = bloom_membership(probe, build, "gram")
    assert out.columns == ["rid", "gram", "bloom_candidate"]
    rows = {r["rid"]: r["bloom_candidate"] for r in out.collect()}
    assert len(rows) == 1200
    assert all(rows[i] for i in range(200)), "false negative: bloom broke"
    fps = sum(1 for i in range(200, 1200) if rows[i])
    # designed fpp ~0.8% at 10 bits/key, k=7; allow 3% on 1000 probes
    assert fps <= 30, f"false-positive rate blew the design: {fps}/1000"


def test_pq_ann_structure_and_shift(spark):
    """pq_shift keeps ADC int64-exact at any corpus size; pq_ann
    output is k rows per query with cosine descending within each
    query and the shortlist's ADC score carried through."""
    from yuki_spark.operators.similarity import pq_shift

    assert pq_shift(500) == 1
    assert pq_shift(256) == 1
    assert pq_shift(255) == 0
    assert pq_shift(1 << 40) == 33
    # worst-case bound: per-dim product 2^48 * 2^8 members, 64-term
    # fold adds 6 bits -> always under 2^63
    for n in (1, 500, 10**6, 10**12):
        assert 48 + 8 + (max(0, int(n).bit_length() - 8) and 0) <= 62

    from yuki_spark.catalog import load
    from yuki_spark.operators.similarity import pq_ann

    out = pq_ann(
        load(spark, "/root/testdata/sf0.001", "embeddings"), k=3, n_queries=4
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r["qid"], []).append((r["rk"], r["cosine"]))
    assert set(per) <= set(range(4))
    for qid, rows in per.items():
        ranks = [rk for rk, _ in rows]
        assert ranks == sorted(ranks) and len(rows) <= 3
        coss = [c for _, c in rows]
        assert coss == sorted(coss, reverse=True)


def test_kmeans_refine_partition_properties(spark):
    """Every vector lands in exactly one cluster, clusters are
    identified by seed ids (< k), sizes sum to n, and the round-2
    assignment is the max-affinity one (spot-checked via the exact
    brute-force affinity of one vector against every final centroid
    recomputed in pandas)."""
    from yuki_spark.catalog import load
    from yuki_spark.operators.similarity import KMEANS_K, kmeans_refine

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    out = kmeans_refine(emb).collect()
    assert len(out) == n
    assert {r["vec_id"] for r in out} == set(range(n))
    cells = {r["cell"] for r in out}
    assert cells <= set(range(KMEANS_K))
    sizes: dict[int, int] = {}
    for r in out:
        sizes[r["cell"]] = sizes.get(r["cell"], 0) + 1
    assert sum(sizes.values()) == n
    for r in out:
        assert sizes[r["cell"]] == r["cluster_size"]
        assert -1.0 <= r["affinity"] <= 1.0


def test_cusum_drift_known_answer(spark, tmp_path):
    """e21's CUSUM math on a hand-built rate shift: a type jumping
    10→30 events/day at day 16 must flag exactly the excursion days
    (cross-multiplied threshold 100·S² > T·D³), and a perfectly flat
    type must stay at dev = cusum = 0 with no flags."""
    import datetime as dt

    from yuki_spark.queries import events as ev

    rows = []
    eid = 0
    for day in range(1, 31):
        for i in range(10 if day <= 15 else 30):
            rows.append((eid, dt.datetime(2024, 1, day, i % 24), 1, "shift", 0.0, "{}"))
            eid += 1
        for i in range(10):
            rows.append((eid, dt.datetime(2024, 1, day, i), 1, "flat", 0.0, "{}"))
            eid += 1
        if day <= 10:  # total outage from day 11: zero-day densify path
            for i in range(10):
                rows.append((eid, dt.datetime(2024, 1, day, i), 1, "vanish", 0.0, "{}"))
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = str(tmp_path / "cat")
    df.coalesce(1).write.parquet(out + "/events.parquet")
    res = ev.e21_cusum_drift(spark, out).collect()
    flat = [r for r in res if r["event_type"] == "flat"]
    assert len(flat) == 30
    assert all(r["dev"] == 0 and r["cusum"] == 0 and not r["drift"] for r in flat)
    shift = {r["day"].day: r for r in res if r["event_type"] == "shift"}
    # T=600, D=30: dev = ∓300 around the shift; S bottoms at -4500 on
    # day 15 and returns to 0 on day 30; threshold |S| > sqrt(T·D³/100)
    # = 402.49 → exactly days 2..28 flag
    assert shift[15]["cusum"] == -4500
    assert shift[30]["cusum"] == 0
    assert sorted(d for d, r in shift.items() if r["drift"]) == list(range(2, 29))
    # a type that STOPS at day 11 must still carry rows for the silent
    # days (densified calendar, n_events = 0) and flag the outage:
    # T=100, D=30 → dev=+200 on live days, -100 on silent ones;
    # |S| > sqrt(T*D^3/100) = 164.3 → days 1..28 flag, S_30 == 0
    vanish = {r["day"].day: r for r in res if r["event_type"] == "vanish"}
    assert len(vanish) == 30
    assert all(vanish[d]["n_events"] == 0 for d in range(11, 31))
    assert vanish[10]["cusum"] == 2000
    assert vanish[30]["cusum"] == 0
    assert sorted(d for d, r in vanish.items() if r["drift"]) == list(range(1, 29))


def test_constraint_report_rejects_bad_names(spark):
    """Names splice into the generated stack() SQL, so non-identifier
    names (which could parse as expressions — 'a-0' resolving as
    __v_a MINUS 0 against the WRONG counter) and empty check lists
    must fail loudly, not silently mis-bind."""
    from yuki_spark.operators.profile import constraint_report

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="identifier"):
        constraint_report(df, [("v-neg", F.col("v") < 0)])
    with pytest.raises(ValueError, match="identifier"):
        constraint_report(df, [("has space", F.col("v") < 0)])
    with pytest.raises(ValueError, match="at least one"):
        constraint_report(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        constraint_report(
            df, [("a", F.col("v") < 0)], (("a", ["v"]),)
        )


def test_incremental_neardup_against_index(spark, docs):
    """The per-batch ingest shape: build the band index once for the
    corpus, then check a NEW batch against it — a near-dup of an
    indexed doc is caught with its exact Jaccard, novel docs pass
    clean, and appending the batch's own band rows extends the index
    for the next round."""
    index = dedup.band_index(dedup.token_sets(docs)).localCheckpoint(eager=False)

    batch = spark.createDataFrame(
        [
            # near-dup of indexed doc 1 (J = 7/9)
            (100, "the quick brown fox jumps over the lazy cat", "en", "x"),
            (101, "totally novel content nothing shares these tokens", "en", "x"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    hits = dedup.incremental_neardup(batch, index, docs, threshold=0.7).collect()
    got = {(r["new_id"], r["indexed_id"]): r["jac"] for r in hits}
    assert set(k[0] for k in got) == {100}
    assert got[(100, 1)] == pytest.approx(7 / 9)
    assert got[(100, 3)] == pytest.approx(7 / 9)  # doc 3 = exact dup of 1

    # next round: extended index + grown corpus catch a dup of doc 101
    index2 = index.union(dedup.band_index(dedup.token_sets(batch)))
    corpus2 = docs.union(batch)
    batch2 = spark.createDataFrame(
        [(200, "totally novel content nothing shares these tokens", "en", "y")],
        "doc_id long, text string, lang string, source string",
    )
    hits2 = {
        (r["new_id"], r["indexed_id"]): r["jac"]
        for r in dedup.incremental_neardup(batch2, index2, corpus2, 0.7).collect()
    }
    assert hits2 == {(200, 101): pytest.approx(1.0)}


# ---------------------------------------------------------------------------
# Real multimodal decode (stdlib codecs; PIL/soundfile optional wideners)
# ---------------------------------------------------------------------------


def _gradient_png(w=20, h=12):
    from yuki_spark.operators import codecs

    px = bytes(
        c
        for y in range(h)
        for x in range(w)
        for c in ((x * 255) // max(w - 1, 1), (y * 255) // max(h - 1, 1), 128)
    )
    return codecs.encode_png(w, h, px, channels=3), px


def test_png_codec_roundtrip_and_filters():
    """encode_png → decode_png is the identity on pixels; the decoder
    handles all five PNG filter types (exercised via a zlib stream we
    craft with per-line filters)."""
    import struct
    import zlib

    from yuki_spark.operators import codecs

    data, px = _gradient_png()
    w, h, ch, got = codecs.decode_png(data)
    assert (w, h, ch) == (20, 12, 3)
    assert got == px

    # craft a 4x3 gray PNG using filters 1..4 + 0 per scanline
    width, height = 4, 3
    lines = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45]), bytes([90, 80, 70, 60])]
    def filt(ftype, line, prev):
        out = bytearray([ftype])
        for i, v in enumerate(line):
            left = line[i - 1] if i else 0
            up = prev[i]
            ul = prev[i - 1] if i else 0
            if ftype == 0: out.append(v)
            elif ftype == 1: out.append((v - left) & 0xFF)
            elif ftype == 2: out.append((v - up) & 0xFF)
            elif ftype == 3: out.append((v - ((left + up) >> 1)) & 0xFF)
            else: out.append((v - codecs._paeth(left, up, ul)) & 0xFF)
        return bytes(out)
    prev = bytes(width)
    raw = b""
    for ftype, line in zip((1, 3, 4), lines):
        raw += filt(ftype, line, prev)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    crafted = (
        codecs.PNG_MAGIC
        + codecs._png_chunk(b"IHDR", ihdr)
        + codecs._png_chunk(b"IDAT", zlib.compress(raw))
        + codecs._png_chunk(b"IEND", b"")
    )
    w2, h2, ch2, px2 = codecs.decode_png(crafted)
    assert (w2, h2, ch2) == (width, height, 1)
    assert px2 == b"".join(lines)

    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(b"not a png at all")

    # corrupt payloads BEHIND a valid PNG magic must raise the one
    # documented media error, not leak struct/zlib internals into (and
    # kill) a whole mapInPandas batch
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(codecs.PNG_MAGIC + b"\x00\x00")  # truncated IHDR
    garbled = (
        codecs.PNG_MAGIC
        + codecs._png_chunk(b"IHDR", ihdr)
        + codecs._png_chunk(b"IDAT", b"\xff\xfe\xfd garbage not zlib")
        + codecs._png_chunk(b"IEND", b"")
    )
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(garbled)


def test_wav_codec_roundtrip():
    from yuki_spark.operators import codecs

    import struct

    pcm = struct.pack("<8h", 0, 1000, -1000, 32767, -32768, 5, -5, 0)
    data = codecs.encode_wav(pcm, rate=8000, channels=1, sampwidth=2)
    assert codecs.is_wav(data)
    rate, channels, sampwidth, got = codecs.decode_wav(data)
    assert (rate, channels, sampwidth) == (8000, 1, 2)
    assert got == pcm


def test_extract_features_real_png_and_wav(spark):
    """m1's operator on REAL media: a PNG's width/height come from its
    IHDR (not the metadata struct) and byte_mean from decoded pixels;
    a WAV reports frame count/channels from its actual header."""
    import struct

    from yuki_spark.operators import codecs, multimodal

    png, px = _gradient_png(10, 6)
    pcm = struct.pack("<6h", 100, -100, 2000, -2000, 0, 500)
    wav = codecs.encode_wav(pcm, rate=16000, channels=1)
    df = spark.createDataFrame(
        [(1, bytearray(png), {"width": 999, "height": 999, "mime": "image/png"}),
         (2, bytearray(wav), {"width": 999, "height": 999, "mime": "audio/wav"})],
        "doc_id long, media binary, meta struct<width:long,height:long,mime:string>",
    )
    got = {r["doc_id"]: r for r in multimodal.extract_features(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (10, 6)  # from IHDR, not meta
    assert got[1]["byte_mean"] == sum(px) // len(px)  # decoded pixels
    assert got[2]["width"] == 6 and got[2]["height"] == 1  # frames/channels
    assert got[2]["byte_mean"] == sum(pcm) // len(pcm)


def test_resize_real_png_end_to_end(spark):
    """m2's resize on a REAL PNG: output payloads are valid PNGs at
    the target size whose pixels equal a reference nearest-neighbor
    resample of the decoded input."""
    from yuki_spark.operators import codecs, multimodal

    png, px = _gradient_png(16, 8)
    df = spark.createDataFrame(
        [(7, bytearray(png))], "doc_id long, media binary"
    )
    out = multimodal.resize(df, 8, 4).collect()
    assert len(out) == 1 and out[0]["width"] == 8 and out[0]["height"] == 4
    w, h, ch, got_px = codecs.decode_png(bytes(out[0]["media"]))
    assert (w, h, ch) == (8, 4, 3)
    assert got_px == codecs.resize_nearest(px, 16, 8, 3, 8, 4)
    # non-image payloads keep the documented byte-tile fallback
    df2 = spark.createDataFrame([(8, bytearray(b"abc"))], "doc_id long, media binary")
    out2 = multimodal.resize(df2, 4, 3).collect()
    assert bytes(out2[0]["media"]) == (b"abc" * 5)[:12]


def test_frame_windows_real_wav(spark):
    """m3's framer on a REAL WAV: windows slide over the decoded PCM
    stream, not the container bytes."""
    import struct

    from yuki_spark.operators import codecs, multimodal

    pcm = struct.pack("<8h", *range(8))
    wav = codecs.encode_wav(pcm, rate=8000)
    df = spark.createDataFrame([(3, bytearray(wav))], "doc_id long, media binary")
    wins = multimodal.frame_windows(df, frame_bytes=8, hop_bytes=4).collect()
    # 16 PCM bytes, hop 4 -> windows at offsets 0,4,8,12
    assert [r["win_idx"] for r in sorted(wins, key=lambda r: r["win_idx"])] == [0, 1, 2, 3]
    assert bytes(sorted(wins, key=lambda r: r["win_idx"])[0]["win"]) == pcm[:8]
    assert bytes(sorted(wins, key=lambda r: r["win_idx"])[3]["win"]) == pcm[12:16]


def test_skyline_tree_resolve_matches_flat_on_anticorrelated(spark):
    """Adversarial anti-correlated input (price+size constant → every
    row is on the skyline, the local prune drops nothing): the
    two-level tree resolve returns exactly the flat single-task
    resolve's rows, while bounding any one resolve task to
    ~survivors/fanout candidates."""
    from yuki_spark.operators.skyline import skyline

    n = 3000
    # price and size both increase with i: cheaper rows are smaller,
    # larger rows cost more — no row dominates any other
    rows = [(i, float(i), float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, price double, size double").repartition(16)
    tree = sorted(
        r["id"]
        for r in skyline(df, minimize=("price",), maximize=("size",), fanout=32).collect()
    )
    flat = sorted(
        r["id"]
        for r in skyline(df, minimize=("price",), maximize=("size",), fanout=1).collect()
    )
    assert tree == flat == list(range(n))
    # and on a mixed distribution the two levels agree too
    rng_rows = [(i, float((i * 37) % 101), float((i * 53) % 97)) for i in range(2000)]
    df2 = spark.createDataFrame(rng_rows, "id long, price double, size double").repartition(16)
    t2 = sorted(r["id"] for r in skyline(df2, minimize=("price",), maximize=("size",)).collect())
    f2 = sorted(r["id"] for r in skyline(df2, minimize=("price",), maximize=("size",), fanout=1).collect())
    assert t2 == f2


def test_ann_skew_guard_caps_hot_buckets_and_is_identity_when_idle(spark):
    """A clustered corpus (every vector in one orthant → one sign
    bucket) turns the LSH bucket join quadratic; max_bucket re-splits
    the hot bucket so every (bucket, sub) group fits the cap. On a
    spread corpus where no bucket exceeds the cap, the guarded result
    is IDENTICAL to the unguarded one."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(3)
    # clustered: all-positive coordinates -> same side of most planes
    clustered = rng.uniform(0.5, 1.0, size=(400, 64)).astype("float32")
    rows = [(i, [float(x) for x in clustered[i]], 0) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    bucketed = similarity._sign_bucketed(df, 4)
    pops = {r["bucket"]: r["count"] for r in bucketed.groupBy("bucket").count().collect()}
    assert max(pops.values()) > 64  # the skew premise: one hot bucket

    bits = similarity._bucket_split_stats(bucketed, 64)
    sub = similarity._with_subkey(
        bucketed.select(F.col("vec_id"), F.col("sv"), F.col("bucket")), bits, "sv"
    )
    split_pops = [
        r["count"] for r in sub.groupBy("bucket", "sub").count().collect()
    ]
    # mean-centered splits bisect even a tight cluster, so groups land
    # within a small factor of the cap instead of one 400-row key
    assert max(split_pops) <= 2 * 64
    assert len(split_pops) > len(pops)

    # guarded graph still finds neighbors for every vector
    g = similarity.knn_graph(df, k=2, n_planes=4, max_bucket=64)
    per_q = g.groupBy("qid").count().collect()
    assert len(per_q) == 400 and all(r["count"] <= 2 for r in per_q)

    # identity on a spread corpus whose buckets all fit the cap
    spread = rng.standard_normal((120, 64)).astype("float32")
    rows2 = [(i, [float(x) for x in spread[i]], 0) for i in range(120)]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>, label int")
    base = [tuple(r) for r in similarity.knn_graph(df2, k=3, n_planes=4).collect()]
    guarded = [
        tuple(r)
        for r in similarity.knn_graph(df2, k=3, n_planes=4, max_bucket=10_000).collect()
    ]
    assert guarded == base
    base_ann = [tuple(r) for r in similarity.lsh_ann(df2, k=3, n_planes=4).collect()]
    guarded_ann = [
        tuple(r)
        for r in similarity.lsh_ann(df2, k=3, n_planes=4, max_bucket=10_000).collect()
    ]
    assert guarded_ann == base_ann


def test_long_bucket_ids_past_int32_ceiling(spark):
    """r8 widening: bucket ids are int64 end-to-end. At 33 sign bits
    (past the old int32 refusal) the packed band buckets exceed 2^31,
    stay positive, and match a numpy reference bit-for-bit; lsh_ann
    and knn_graph run at 33 planes with exact int-cosine scores."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(8)
    base = rng.standard_normal((32, 64)).astype("float32")
    # ids 32..63 duplicate 0..31: duplicates share every bucket, so the
    # ANN paths are guaranteed non-empty even at near-singleton widths
    vecs = np.concatenate([base, base])
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    bits = 33
    sig = similarity.nd_signatures(df, bits)
    assert dict(sig.dtypes)["bucket"] == "bigint"
    got = sig.collect()
    assert all(r["bucket"] >= 0 for r in got)
    assert max(r["bucket"] for r in got) > (1 << 31)  # long path exercised
    # numpy reference: identical packing from the same scaled ints
    planes = similarity.lsh_planes(similarity.NEARDUP_BANDS * bits)
    by_vec: dict[int, dict[int, int]] = {}
    sv_of = {}
    for r in got:
        by_vec.setdefault(r["vec_id"], {})[r["band"]] = r["bucket"]
        sv_of[r["vec_id"]] = np.asarray(r["sv"], dtype=np.int64)
    for vid, bands in by_vec.items():
        S = (sv_of[vid] @ planes.T >= 0).astype(np.int64)
        W = 1 << np.arange(bits, dtype=np.int64)
        ref = (S.reshape(similarity.NEARDUP_BANDS, bits) * W).sum(axis=1)
        assert [bands[b] for b in range(similarity.NEARDUP_BANDS)] == ref.tolist()

    # ANN paths at 33 planes: buckets are near-singleton, but every
    # returned score must still be the exact rounded-9 int cosine
    bucketed = similarity._sign_bucketed(df, 33)
    assert dict(bucketed.dtypes)["bucket"] == "bigint"
    assert bucketed.where(F.col("bucket") > (1 << 31)).count() > 0
    ann = similarity.lsh_ann(df, k=2, n_queries=4, n_planes=33).collect()
    assert {(r["qid"], r["cid"]) for r in ann} >= {(q, q + 32) for q in range(4)}
    g = similarity.knn_graph(df, k=2, n_planes=33)
    assert g.count() >= 64  # every vector at least finds its duplicate
    sc = {r["vec_id"]: np.asarray(r["sv"], dtype=np.int64) for r in got}
    for r in ann:
        a, b = sc[r["qid"]], sc[r["cid"]]
        exact = round(
            float(a @ b) / (np.sqrt(float(a @ a)) * np.sqrt(float(b @ b))), 9
        )
        assert r["cosine"] == exact


# exact-dup groups, near-dups, permuted/duplicated-token twins
# (identical SETS, different texts), empty docs, and singletons
_TWIN_ROWS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "alpha beta gamma delta epsilon eta"),      # near-dup of 1
    (3, "alpha beta gamma delta epsilon zeta"),     # exact dup of 1
    (4, "zeta epsilon delta gamma beta alpha"),     # same SET as 1, permuted
    (5, "alpha alpha beta gamma delta epsilon zeta"),  # same SET, dup token
    (6, "completely unrelated words entirely here now"),
    (7, ""),                                        # empty
    (8, ""),                                        # empty twin: must NOT cluster
    (9, "solo document with its very own vocabulary"),
]


def test_neardup_clusters_equals_uncollapsed_form(spark):
    """neardup_clusters (identical-set collapse) returns EXACTLY
    dedup_clusters(jaccard_pairs(...)) on the twin corpus — the
    default-tier equality pin of the rewritten jaccard_candidates."""
    df = spark.createDataFrame(_TWIN_ROWS, "doc_id long, text string")
    want = sorted(
        tuple(r)
        for r in dedup.dedup_clusters(dedup.jaccard_pairs(df, 0.8)).collect()
    )
    got = sorted(tuple(r) for r in dedup.neardup_clusters(df, 0.8).collect())
    assert got == want
    assert (1, 1) in got and (3, 1) in got and (4, 1) in got and (5, 1) in got
    assert all(d not in (7, 8, 9, 6) for d, _ in got)


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_neardup_clusters_equals_uncollapsed_form_on_sf0001(spark):
    """The same equality on the real sf0.001 corpus (hundreds of docs,
    organic dups)."""
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want_r = sorted(
        tuple(r)
        for r in dedup.dedup_clusters(dedup.jaccard_pairs(real, 0.8)).collect()
    )
    got_r = sorted(tuple(r) for r in dedup.neardup_clusters(real, 0.8).collect())
    assert got_r == want_r and len(got_r) > 0


def test_jaccard_pairs_collapsed_equals_uncollapsed(spark):
    """jaccard_pairs_collapsed returns EXACTLY jaccard_pairs' rows
    (including jac values) on the twin corpus at two thresholds."""
    df = spark.createDataFrame(_TWIN_ROWS, "doc_id long, text string")
    for t in (0.8, 0.5):
        want = sorted(tuple(r) for r in dedup.jaccard_pairs(df, t).collect())
        got = sorted(tuple(r) for r in dedup.jaccard_pairs_collapsed(df, t).collect())
        assert got == want, f"threshold {t}"


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_jaccard_pairs_collapsed_equals_uncollapsed_on_sf0001(spark):
    """The same equality on the organic sf0.001 corpus."""
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want_r = sorted(tuple(r) for r in dedup.jaccard_pairs(real, 0.8).collect())
    got_r = sorted(tuple(r) for r in dedup.jaccard_pairs_collapsed(real, 0.8).collect())
    assert got_r == want_r and len(got_r) > 0


def test_minhash_collapsed_equals_uncollapsed(spark):
    """minhash_lsh_pairs_collapsed equals minhash_lsh_pairs on crafted
    twins (identical signatures always co-bucket) and the organic
    corpus."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "zeta epsilon delta gamma beta alpha"),  # same SET as 1
        (4, "unrelated words entirely here now today"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(tuple(r) for r in dedup.minhash_lsh_pairs(df, 0.7).collect())
    got = sorted(tuple(r) for r in dedup.minhash_lsh_pairs_collapsed(df, 0.7).collect())
    assert got == want and (1, 3, 1.0) in got
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want_r = sorted(tuple(r) for r in dedup.minhash_lsh_pairs(real, 0.95).collect())
    got_r = sorted(tuple(r) for r in dedup.minhash_lsh_pairs_collapsed(real, 0.95).collect())
    assert got_r == want_r and len(got_r) > 0


def test_nn_descent_round_never_loses_recall_and_recovers_misses(spark):
    """One NN-descent round over the kNN graph: per-vertex true-
    neighbor hits are NON-DECREASING (the candidate set is a superset
    of the current edges under the same tiebreak), and on a sparse-
    bucket corpus the neighbor-of-neighbor expansion strictly recovers
    misses."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(42)
    n, k = 200, 3
    vecs = rng.standard_normal((n, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    # wide buckets (many planes for n=200) -> the one-shot graph misses
    base = similarity.knn_graph(df, k=k, n_planes=8)
    refined = similarity.nn_descent_round(df, base, k=k)

    # exact truth via the same scaled-int arithmetic
    sv = np.floor(vecs.astype(np.float64) * (1 << 24)).astype(np.int64)
    dots = sv @ sv.T
    nrm = np.sqrt(np.diag(dots).astype(np.float64))
    cos = np.round(dots / (nrm[:, None] * nrm[None, :]), 9)
    truth = {}
    for i in range(n):
        order = sorted(
            (j for j in range(n) if j != i), key=lambda j: (-cos[i, j], j)
        )
        truth[i] = set(order[:k])

    def hits(g):
        got = {}
        for r in g.collect():
            got.setdefault(r["qid"], set()).add(r["cid"])
        return {i: len(got.get(i, set()) & truth[i]) for i in range(n)}

    hb, hr = hits(base), hits(refined)
    assert all(hr[i] >= hb[i] for i in range(n))  # never loses a true edge
    assert sum(hr.values()) > sum(hb.values())  # and strictly recovers misses
    # refined graph stays a valid top-k table
    per_q = refined.groupBy("qid").count().collect()
    assert all(r["count"] <= k for r in per_q)


def test_avi_mjpeg_pure_python_keyframe_sampling(spark):
    """The video branch executes in THIS environment: an AVI/MJPEG
    container goes through real RIFF chunk parsing + SOF dimension
    walk with no codec library — frames come back as the original
    JPEG payloads — and frame_sample rides the same path end-to-end.
    A non-MJPEG AVI still raises loud when PyAV is absent."""
    from yuki_spark.operators import codecs, multimodal

    frames = [codecs.encode_stub_jpeg(16, 12, seed=i) for i in range(6)]
    avi = codecs.encode_avi_mjpeg(frames, 16, 12)
    assert codecs.is_video(avi)
    assert codecs.jpeg_dims(frames[0]) == (16, 12)

    kf = codecs.decode_video_keyframes(avi, n_frames=3)
    assert [(w, h) for w, h, _ in kf] == [(16, 12)] * 3
    assert [f for _, _, f in kf] == frames[:3]  # payloads ship as-is

    # ISO 10918-1 B.1.1.2: any number of 0xFF fill bytes may precede a
    # marker — the dimension walk must skip them, not misparse
    filled = frames[0][:2] + b"\xff" + frames[0][2:]
    assert codecs.jpeg_dims(filled) == (16, 12)

    # 'rec '-grouped interleave (the standard AVI layout): frames must
    # come back in STREAM order — a LIFO walk returned [2,3,0,1] here
    import struct as _struct

    def chunk(fourcc, body):
        return fourcc + _struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    rec1 = chunk(b"LIST", b"rec " + chunk(b"00dc", frames[0]) + chunk(b"00dc", frames[1]))
    rec2 = chunk(b"LIST", b"rec " + chunk(b"00dc", frames[2]) + chunk(b"00dc", frames[3]))
    tail = chunk(b"00dc", frames[4])
    movi = chunk(b"LIST", b"movi" + rec1 + rec2 + tail)
    body = b"AVI " + movi
    grouped = b"RIFF" + _struct.pack("<I", len(body)) + body
    assert codecs.avi_mjpeg_frames(grouped) == frames[:5]

    df = spark.createDataFrame(
        [(7, bytearray(avi))], "doc_id long, media binary"
    )
    rows = multimodal.frame_sample(df, n_frames=3).collect()
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2]
    assert all(bytes(r["frame"])[:2] == codecs.JPEG_SOI for r in rows)

    # an AVI whose video chunks are NOT JPEG (compressed codec) is
    # still PyAV territory: loud failure when the codec is absent
    fake = codecs.encode_avi_mjpeg([b"\x00\x01\x02\x03"], 16, 12)
    assert codecs.avi_mjpeg_frames(fake) == []
    if not codecs._HAS_AV:
        with pytest.raises(codecs.UnsupportedMediaError, match="PyAV"):
            codecs.decode_video_keyframes(fake)


def test_motion_png_avi_and_token_video_roundtrip(spark):
    """r12's Motion-PNG container path (d53's synth corpus): PNG
    frames wrapped in a real RIFF/AVI ('MPNG' fourcc) come back
    byte-identical through the pure-Python chunk walk with IHDR
    dimensions, and synth_token_video → frame_sample → dhash56 equals
    hashing the per-chunk histogram PNGs directly (the container
    round trip is lossless, so the composed pipeline can't drift from
    the generative rule the oracle replays)."""
    from yuki_spark.operators import codecs, multimodal
    from yuki_spark.operators.multimodal import DHASH_GRID_H, DHASH_GRID_W

    pngs = [
        codecs.encode_png(
            DHASH_GRID_W, DHASH_GRID_H,
            bytes((i * 7 + j) % 251 for j in range(64)), channels=1,
        )
        for i in range(4)
    ]
    avi = codecs.encode_avi_mjpeg(
        pngs, DHASH_GRID_W, DHASH_GRID_H, fourcc=b"MPNG"
    )
    assert codecs.is_video(avi)
    assert codecs.png_dims(pngs[0]) == (DHASH_GRID_W, DHASH_GRID_H)
    kf = codecs.decode_video_keyframes(avi, n_frames=4)
    assert [(w, h) for w, h, _ in kf] == [(8, 8)] * 4
    assert [f for _, _, f in kf] == pngs  # payloads ship as-is

    # composed pipeline == direct per-chunk hashing
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "xi"),  # fewer tokens than frames: short video
        ],
        "doc_id long, text string",
    )
    nf = 4
    video = multimodal.synth_token_video(docs, n_frames=nf)
    frames = multimodal.frame_sample(video, n_frames=nf)
    composed = {
        (r["doc_id"], r["sh"])
        for r in multimodal.dhash56(
            frames.select(
                (F.col("doc_id") * nf + F.col("frame_idx")).alias("doc_id"),
                F.col("frame").alias("media"),
            )
        ).collect()
    }
    # direct: hash the per-chunk PNGs without the container round trip
    from yuki_spark.functions import tokens as _tokens

    tk = docs.select(
        "doc_id", F.filter(_tokens("text"), lambda t: t != "").alias("tk")
    ).where(F.size("tk") > 0)
    chunks = (
        tk.select(
            "doc_id", F.size("tk").alias("L"),
            F.posexplode("tk").alias("pos", "tok"),
        )
        .withColumn("chunk", F.expr(f"(pos * {nf}) div L"))
        .groupBy("doc_id", "chunk")
        .agg(F.collect_set("tok").alias("toks"))
    )
    direct_png = multimodal.synth_token_png_from_sets(
        chunks.select(
            (F.col("doc_id") * nf + F.col("chunk")).alias("doc_id"), "toks"
        )
    )
    direct = {
        (r["doc_id"], r["sh"])
        for r in multimodal.dhash56(direct_png).collect()
    }
    assert composed == direct
    # identical docs → identical frame-hash multisets; the 2-token doc
    # got a short video
    by_doc = {}
    for fid, sh in composed:
        by_doc.setdefault(fid // nf, []).append(sh)
    assert sorted(by_doc[0]) == sorted(by_doc[1])
    assert len(by_doc[3]) < nf


def test_ivfpq_equals_ivf_when_shortlist_unbounded(spark):
    """IVF-ADC's only loss vs plain IVF (same nprobe) is the ADC
    shortlist cut: with the shortlist wider than any probed candidate
    set, the exact re-rank scores every probed candidate and the
    result must equal ivf_ann row for row. Also pins the composition
    wiring (cell restriction actually feeds the ADC scan)."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(5)
    vecs = rng.standard_normal((300, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], int(i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    ivf = [tuple(r) for r in similarity.ivf_ann(df, k=3, n_queries=6, nprobe=2).collect()]
    ivfpq = [
        (r["qid"], r["rk"], r["cid"], r["cosine"])
        for r in similarity.ivfpq_ann(
            df, k=3, n_queries=6, nprobe=2, shortlist=10_000
        ).collect()
    ]
    assert ivfpq == ivf

    # with the production shortlist the result is still a valid top-k
    # over probed cells (ADC may reorder the shortlist cut, never the
    # exact re-rank)
    tight = similarity.ivfpq_ann(df, k=3, n_queries=6, nprobe=2)
    per_q = tight.groupBy("qid").count().collect()
    assert all(r["count"] <= 3 for r in per_q)


# ---- d45 trained language-id (r9) ----------------------------------------


def test_langid_trainer_separates_signal_rich_corpus(spark):
    """The d45 trainer must reach a PERFECT diagonal when the corpus
    actually carries per-class character signal (disjoint char pools
    per language). This is the proof the training pass learns real
    structure — on the driver corpus the confusion is near-uniform
    only because those lang labels are independent of the text
    (word-NB with the full train split = exact chance)."""
    from yuki_spark.queries.docs import LID_CLASSES, langid_train_confusion

    pools = {"de": "qw", "en": "xy", "es": "jk", "fr": "vb", "zh": "mn"}
    rows = []
    for doc_id in range(85):
        lang = LID_CLASSES[doc_id % 5]
        p = pools[lang]
        words = [p[i % 2] * 3 for i in range(10 + doc_id % 5)]
        rows.append((doc_id, " ".join(words), lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = langid_train_confusion(docs).collect()
    # every held-out doc (doc_id % 17 == 0: one per class here) lands
    # on the diagonal, and every class appears
    assert all(r["lang"] == r["pred_lang"] for r in got), got
    assert {r["lang"] for r in got} == set(LID_CLASSES)
    assert sum(r["n_docs"] for r in got) == 5
    # trained scores on own-class text are strictly positive (the
    # centered rate weights reward over-represented buckets)
    assert all(r["total_best_score"] > 0 for r in got), got


def test_langid_training_respects_holdout_split(spark):
    """Weights must come from the doc_id%17!=0 split ONLY: flipping
    the text of every eval doc cannot change the weights, so the
    per-class score of an unchanged eval doc is identical."""
    from yuki_spark.queries.docs import langid_train_confusion

    base = [
        (i, "qqq www " * 8, "de") if i % 2 == 0 else (i, "xxx yyy " * 8, "en")
        for i in range(40)
    ]
    a = spark.createDataFrame(base, "doc_id long, text string, lang string")
    # corrupt ONLY eval-split docs (doc_id % 17 == 0) except doc 34,
    # which we keep to compare
    mutated = [
        (i, "zzz uuu " * 8, lang)
        if (i % 17 == 0 and i != 34)
        else (i, t, lang)
        for i, t, lang in base
    ]
    b = spark.createDataFrame(mutated, "doc_id long, text string, lang string")
    conf_a = {
        (r["lang"], r["pred_lang"]): (r["n_docs"], r["total_best_score"])
        for r in langid_train_confusion(a).collect()
    }
    conf_b = {
        (r["lang"], r["pred_lang"]): (r["n_docs"], r["total_best_score"])
        for r in langid_train_confusion(b).collect()
    }
    # eval de docs are 0 and 34. In run A both score s (trained
    # weights): cell (de,de) = (2, 2s). In run B doc 0's text hits
    # only unseen buckets, so it scores 0 for every class and the
    # first-class tiebreak still predicts de: cell (de,de) = (2, s).
    # Weights unchanged <=> doc 34 contributes the SAME s to both.
    n_a, s_a = conf_a[("de", "de")]
    n_b, s_b = conf_b[("de", "de")]
    assert (n_a, n_b) == (2, 2)
    assert s_a == 2 * s_b and s_b > 0


# ---- s21 iterated NN-descent (r9) -----------------------------------------


def test_s21_termination_rule(spark, monkeypatch):
    """The declarative early-stop must mirror the NN-descent loop:
    a round that changes no edges is the last one reported, and its
    converged flag is true."""
    from yuki_spark.queries import sim

    def df(rows):
        return spark.createDataFrame(rows, "qid long, cid long")

    exact = df([(0, 1), (0, 2), (0, 3)])
    g0 = df([(0, 1), (0, 9)])
    g_changed = df([(0, 1), (0, 2)])  # one edge differs from g0

    def patch(exact_df, g0_df, g1_df, g2_df):
        monkeypatch.setattr(sim, "_exact20", lambda s, d: exact_df)
        monkeypatch.setattr(sim, "_graph", lambda s, d: g0_df)
        monkeypatch.setattr(sim, "_graph_nnd", lambda s, d: g1_df)
        monkeypatch.setattr(sim, "_graph_nnd2", lambda s, d: g2_df)

    # converged in round 1: g1 == g0 -> ONE row, converged, no delta
    patch(exact, g0, g0, g0)
    got = sim.s21_nn_descent_converge(spark, "unused").collect()
    assert [r["round"] for r in got] == [1]
    assert got[0]["edges_changed"] == 0 and got[0]["converged"]
    assert got[0]["hits_delta"] == 0

    # converged in round 2: g1 != g0, g2 == g1 -> TWO rows, second
    # converged; hit counts move with the edge sets
    patch(exact, g0, g_changed, g_changed)
    got = sim.s21_nn_descent_converge(spark, "unused").collect()
    assert [r["round"] for r in got] == [1, 2]
    assert got[0]["edges_changed"] == 1 and not got[0]["converged"]
    assert got[0]["n_hits"] == 2 and got[0]["hits_delta"] == 1  # 1 -> 2 hits
    assert got[1]["edges_changed"] == 0 and got[1]["converged"]
    assert got[1]["hits_delta"] == 0


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_s21_live_recall_non_decreasing(spark):
    """On the real sf0.001 deposits: every reported round keeps or
    improves cohort recall (superset-candidate property), counts are
    internally consistent, and the round sequence is contiguous."""
    import os
    import tempfile

    from yuki_spark.queries import sim

    with tempfile.TemporaryDirectory() as td:
        os.environ["YUKI_SPARK_SIM_STORE"] = td
        try:
            rows = sim.s21_nn_descent_converge(
                spark, "/root/testdata/sf0.001"
            ).collect()
        finally:
            os.environ.pop("YUKI_SPARK_SIM_STORE", None)
    assert [r["round"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["hits_delta"] >= 0  # non-decreasing recall per round
        assert r["n_possible"] == sim.ANN_NQ * sim.K
        assert r["recall"] == r["n_hits"] / r["n_possible"]
        assert r["converged"] == (r["edges_changed"] == 0)


# ---- s22 hierarchical layered-descent ANN (r9) -----------------------------


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_hnsw_descent_beats_entry_beam_pointwise(spark):
    """Each level re-ranks a superset of the incoming beam under the
    same (cosine desc, cid) total order, so the FINAL top-k cosines
    pointwise dominate the entry-level top-k — the property that makes
    greedy descent safe. Verified on real sf0.001 vectors with fresh
    deposits, plus structure checks (per-query k rows, no self-match,
    sorted ranks)."""
    import os
    import tempfile

    from yuki_spark.operators import similarity
    from yuki_spark.queries import sim

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    with tempfile.TemporaryDirectory() as td:
        os.environ["YUKI_SPARK_SIM_STORE"] = td
        try:
            res = similarity.hnsw_descent(
                emb,
                [sim._graph_l1(spark, sf), sim._graph_nnd2(spark, sf)],
                k=sim.K,
                n_queries=sim.ANN_NQ,
                beam=sim.HNSW_BEAM,
                entry_mod=sim.HNSW_L2_MOD,
            ).collect()
        finally:
            os.environ.pop("YUKI_SPARK_SIM_STORE", None)

    # independent numpy entry-beam baseline: exact top-k over the
    # level-2 members with the family's scaled-int cosine discipline
    import numpy as np
    import pandas as pd

    pdf = pd.read_parquet(f"{sf}/embeddings.parquet")[["vec_id", "embedding"]]
    vecs = {
        int(r.vec_id): np.floor(
            np.asarray(list(r.embedding), dtype=np.float64) * (1 << 24)
        ).astype(np.int64)
        for r in pdf.itertuples()
    }
    lvl2_ids = sorted(v for v in vecs if v % sim.HNSW_L2_MOD == 0)

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        return round(
            float(va @ vb)
            / (np.sqrt(float(va @ va)) * np.sqrt(float(vb @ vb))),
            9,
        )

    entry_topk = {}
    for qid in range(sim.ANN_NQ):
        cands = sorted(
            ((cos(qid, c), c) for c in lvl2_ids if c != qid),
            key=lambda t: (-t[0], t[1]),
        )
        entry_topk[qid] = [v for v, _ in cands[: sim.K]]

    got = {}
    for r in res:
        assert r["qid"] != r["cid"]
        got.setdefault(r["qid"], []).append((r["rk"], r["cosine"]))
    assert set(got) == set(range(sim.ANN_NQ))
    for qid, rows in got.items():
        rks = sorted(rk for rk, _ in rows)
        assert rks == list(range(1, len(rows) + 1))
        fin = [v for _, v in sorted(rows)]
        ent = entry_topk[qid]
        # pointwise dominance: descent can only improve on the entry
        # beam (each hop re-ranks a superset under the same order)
        for i in range(min(len(fin), len(ent))):
            assert fin[i] >= ent[i] - 1e-12, (qid, fin, ent)


def test_s23_sweep_consistent_with_s22_at_default_beam(spark):
    """The sweep's HNSW_BEAM row must equal s22's per-vector table
    summed — same deposits, same descent, different reporting grain
    (the s20↔s19 consistency discipline for the layered family) —
    and every row's arithmetic must be internally consistent."""
    import os
    import tempfile

    from yuki_spark.queries import sim

    sf = "/root/testdata/sf0.001"
    with tempfile.TemporaryDirectory() as td:
        os.environ["YUKI_SPARK_SIM_STORE"] = td
        try:
            sweep = {
                r["beam"]: r
                for r in sim.s23_hnsw_beam_sweep(spark, sf).collect()
            }
            per_vec = sim.s22_hnsw_ann(spark, sf).collect()
        finally:
            os.environ.pop("YUKI_SPARK_SIM_STORE", None)
    assert sorted(sweep) == sorted(sim.HNSW_BEAM_SWEEP)
    assert sweep[sim.HNSW_BEAM]["n_hits"] == sum(r["n_hits"] for r in per_vec)
    for r in sweep.values():
        assert r["n_possible"] == sim.ANN_NQ * sim.K
        assert r["recall"] == r["n_hits"] / r["n_possible"]


# ---- batch deletion for the dedup family (r10) -----------------------------


def test_remove_from_index_equals_from_scratch_after_two_round_ingest(spark):
    """Two-round ingest then a deletion batch: the surviving band
    index must equal a from-scratch band_index build over the
    surviving corpus, row for row — the retraction path a
    continuously-ingested corpus needs (GDPR erasure, licensing
    takedowns) without ever re-deduping history."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b2 = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    # ingest round 1 + round 2: the persisted index is the union of
    # each batch's band rows (exactly run_corpus_ingest's maintenance)
    idx = dedup.band_index(dedup.token_sets(b1)).unionByName(
        dedup.band_index(dedup.token_sets(b2))
    )

    # deletion batch: every doc_id % 7 == 3
    rm = docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    survived = dedup.remove_from_index(idx, rm)

    scratch = dedup.band_index(
        dedup.token_sets(
            docs.join(rm, "doc_id", "left_anti").select("doc_id", "text")
        )
    )
    got = sorted(tuple(r) for r in survived.collect())
    want = sorted(tuple(r) for r in scratch.collect())
    assert got == want and len(got) > 0


def test_relabel_after_removal_equals_rebuild(spark):
    """Incremental CC relabel == from-scratch dedup_clusters over the
    surviving pairs, on every interesting shape at once: an untouched
    component (labels survive verbatim), a component SPLIT by removing
    its bridge doc (each side re-labels at its own min-id), a
    component that evaporates (its last pair dies), and a removed doc
    that was itself a component's min-id label."""

    def pdf(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    # components: {1,2,3} chain via bridge 2; {10,11} untouched;
    # {20,21,22} chain via bridge 21 but 20-21 survives; {30,31} where
    # 30 (the label) is removed
    pairs = pdf(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (30, 31)]
    )
    clusters = dedup.dedup_clusters(pairs)
    rm = spark.createDataFrame([(2,), (22,), (30,)], "doc_id long")

    got = sorted(
        tuple(r)
        for r in dedup.relabel_after_removal(clusters, pairs, rm).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup.dedup_clusters(
            dedup.surviving_pairs(pairs, rm)
        ).collect()
    )
    assert got == want
    asmap = dict(got)
    # {1,3} evaporated (bridge removed, no surviving pairs touch them)
    assert 1 not in asmap and 3 not in asmap and 2 not in asmap
    assert asmap[10] == 10 and asmap[11] == 10  # untouched, verbatim
    assert asmap[20] == 20 and asmap[21] == 20  # split survivor
    assert 22 not in asmap
    assert 31 not in asmap and 30 not in asmap  # label doc removed


def test_relabel_after_removal_on_real_corpus(spark):
    """On the real sf0.001 near-dup graph: incremental relabel after
    deleting a hash-slice of docs equals the from-scratch rebuild."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap = docs.where(F.col("doc_id") < 300).select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(cap, threshold=0.8).localCheckpoint(
        eager=False
    )
    clusters = dedup.dedup_clusters(pairs)
    rm = cap.where(F.col("doc_id") % 5 == 2).select("doc_id")
    got = sorted(
        tuple(r)
        for r in dedup.relabel_after_removal(clusters, pairs, rm).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup.dedup_clusters(
            dedup.surviving_pairs(pairs, rm)
        ).collect()
    )
    assert got == want and len(got) > 0


def test_hnsw_descent_keep_and_candidate_pool(spark):
    """The r12 filtered-search knobs on hnsw_descent: ``keep``
    (filtered beam) with an always-true predicate reproduces the
    plain descent row-for-row; with a real tenant predicate every
    returned cid passes it; ``collect_candidates`` returns a scored
    pool that is a SUPERSET of the final beam at the same width, with
    bit-identical cosines on the shared pairs."""
    import os
    import tempfile

    from yuki_spark.operators import similarity
    from yuki_spark.queries import sim

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    with tempfile.TemporaryDirectory() as td:
        os.environ["YUKI_SPARK_SIM_STORE"] = td
        try:
            graphs = [sim._graph_l1(spark, sf), sim._graph_nnd2(spark, sf)]
            base = similarity.hnsw_base(emb)
            kw = dict(
                k=sim.K,
                n_queries=sim.ANN_NQ,
                beam=sim.HNSW_BEAM,
                entry_mod=sim.HNSW_L2_MOD,
                base=base,
            )
            plain = similarity.hnsw_descent(emb, graphs, **kw).collect()
            trivial = similarity.hnsw_descent(
                emb, graphs, keep=F.lit(True), **kw
            ).collect()
            assert sorted(map(tuple, plain)) == sorted(map(tuple, trivial))

            filt = similarity.hnsw_descent(
                emb,
                graphs,
                keep=F.col("qid") % 2 == F.col("cid") % 2,
                **kw,
            ).collect()
            assert filt  # something survives at 1/2 selectivity
            assert all(r["qid"] % 2 == r["cid"] % 2 for r in filt)

            pool = similarity.hnsw_descent(
                emb, graphs, collect_candidates=True, **kw
            ).collect()
        finally:
            os.environ.pop("YUKI_SPARK_SIM_STORE", None)

    pool_map = {(r["qid"], r["cid"]): r["cosine"] for r in pool}
    assert len(pool_map) == len(pool)  # distinct pairs
    for r in plain:  # final beam ⊆ pool, cosines bit-identical
        assert pool_map[(r["qid"], r["cid"])] == r["cosine"]
    assert len(pool_map) > len(plain)  # strictly more than the beam


def test_synth_wav_roundtrip_and_audio_fingerprint(spark):
    """d55's codec + fingerprint contracts: (1) the WAV container is
    a lossless PCM round trip — synth_token_wav → decode_wav returns
    exactly the int16 samples the generative rule
    (portable_hash60(tok) % 65536 − 32768) computes JVM-side, so the
    composed pipeline can't drift from the rule the oracle replays;
    (2) audio_fingerprint56 on a CONSTRUCTED payload matches the
    hand-computed energy-envelope hash (bit j iff E[j] < E[j+1] over
    57 positional windows per segment); (3) the containment roll-up
    semantics — a clip whose text is a stretch of a longer doc shares
    its segment fingerprints positionally only when envelopes align,
    and identical docs always score 1.0."""
    import numpy as np

    from yuki_spark.functions import tokens as _tokens
    from yuki_spark.operators import codecs, multimodal
    from yuki_spark.operators.multimodal import AUDIO_WINDOWS

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "xi"),  # single token: one segment, sparse envelope
        ],
        "doc_id long, text string",
    )
    wav = multimodal.synth_token_wav(docs)
    got = {r["doc_id"]: bytes(r["media"]) for r in wav.collect()}
    # the generative rule computed independently in plain Python (the
    # Spark side derives it JVM-side — a bug in either surfaces here)
    S = multimodal.WAV_SAMPLES_PER_TOKEN
    hrows = docs.select(
        "doc_id",
        F.transform(
            F.filter(_tokens("text"), lambda t: t != ""),
            lambda t: multimodal.portable_hash60(t),
        ).alias("hs"),
    ).collect()
    want = {
        r["doc_id"]: [
            (int(h) >> ((i * 7) % 45)) % 65536 - 32768
            for h in r["hs"]
            for i in range(S)
        ]
        for r in hrows
    }
    for doc_id, payload in got.items():
        assert codecs.is_wav(payload)
        rate, ch, sw, pcm = codecs.decode_wav(payload)
        assert (rate, ch, sw) == (multimodal.WAV_RATE, 1, 2)
        samples = np.frombuffer(pcm, dtype="<i2").tolist()
        assert samples == want[doc_id]  # lossless PCM round trip
    # identical docs → identical payloads
    assert got[0] == got[1]

    # hand-computed golden fingerprint on a constructed stream:
    # 2 segments x 57 windows, L = 114 samples, sample p has |value|
    # p + 1 → every window holds exactly one sample, E strictly
    # increasing within each segment → all 56 bits set
    ns, nw = 2, AUDIO_WINDOWS
    samples = [(-1) ** p * (p + 1) for p in range(ns * nw)]
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    payload = codecs.encode_wav(pcm, rate=16000, channels=1, sampwidth=2)
    mdf = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, media binary"
    )
    rows = multimodal.audio_fingerprint56(mdf, n_segments=ns).collect()
    assert sorted((r["doc_id"], r["seg"], r["ah"]) for r in rows) == [
        (7, 0, (1 << 56) - 1),
        (7, 1, (1 << 56) - 1),
    ]
    # constant-energy stream: E[j] < E[j+1] never holds → hash 0
    flat = codecs.encode_wav(
        np.asarray([5] * (ns * nw), dtype="<i2").tobytes(),
        rate=16000,
        channels=1,
        sampwidth=2,
    )
    rows0 = multimodal.audio_fingerprint56(
        spark.createDataFrame(
            [(8, bytearray(flat))], "doc_id long, media binary"
        ),
        n_segments=ns,
    ).collect()
    assert sorted((r["seg"], r["ah"]) for r in rows0) == [(0, 0), (1, 0)]

    # identical docs score containment 1.0 in the query roll-up
    from yuki_spark.queries import docs as docsq

    fps = multimodal.audio_fingerprint56(
        wav, n_segments=docsq.D55_SEGMENTS
    ).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add((r["seg"], r["ah"]))
    assert by_doc[0] == by_doc[1]  # identical text → identical prints
    assert by_doc[0] != by_doc[2]


def test_ivf_frozen_assignment_and_drift_trigger(spark):
    """s30's operator contracts: (1) maintained ≡ rebuilt — dropping
    retracted rows and assigning the ingest batch at a FROZEN
    codebook equals re-assigning the whole final pool at the same
    codebook row-for-row (assignment is a pure per-vector function);
    (2) the retrain-trigger policy on synthetically shifted
    codebooks: identical → drift 0 / no retrain; scaled copy →
    drift 0 (cosine scale-invariance); opposite direction → drift 2;
    a cell present on one side only → drift 1; both fire the
    trigger."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(41)
    n = 100
    vecs = rng.standard_normal((n, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], i % 3) for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    j = F.col("vec_id") % 5
    pool0, late = emb.where(j != 3), emb.where(j == 3)
    rm = emb.where(j == 2).select("vec_id")
    cents = similarity.ivf_codebook(pool0).localCheckpoint()
    a0 = similarity.ivf_assign(pool0, cents)
    maintained = a0.join(rm, "vec_id", "left_anti").unionByName(
        similarity.ivf_assign(late, cents)
    )
    rebuilt = similarity.ivf_assign(emb.where(j != 2), cents)
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    # trigger policy on synthetic codebooks
    same = similarity.ivf_codebook_drift(cents, cents, 0.1).collect()
    assert all(r["drift"] == 0.0 and not r["retrain"] for r in same)
    doubled = cents.select(
        "cell", F.transform("cv", lambda x: x * 2).alias("cv")
    )
    scaled = similarity.ivf_codebook_drift(cents, doubled, 0.1).collect()
    assert all(r["drift"] == 0.0 and not r["retrain"] for r in scaled)
    flipped = cents.select(
        "cell", F.transform("cv", lambda x: -x).alias("cv")
    )
    opp = similarity.ivf_codebook_drift(cents, flipped, 0.1).collect()
    assert all(r["drift"] == 2.0 and r["retrain"] for r in opp)
    missing = similarity.ivf_codebook_drift(
        cents, cents.where(F.col("cell") != 0), 0.1
    ).collect()
    gone = [r for r in missing if r["cell"] == 0]
    assert len(gone) == 1 and gone[0]["drift"] == 1.0 and gone[0]["retrain"]
    assert all(r["drift"] == 0.0 for r in missing if r["cell"] != 0)


def test_pq_frozen_code_maintenance_and_drift_trigger(spark):
    """s31's operator contracts, one quantizer level below s30:
    (1) maintained ≡ rebuilt — the PQ code deposit after a keyed
    anti-join retract + per-vector batch encode equals a from-scratch
    re-encode of the final pool row-for-row (sign-cell encoding
    consults NO pool statistic, so it commutes with churn);
    (2) the subspace-grain retrain-trigger policy on synthetically
    shifted codebooks: identical → drift 0 / no retrain; scaled copy
    → drift 0 (cosine scale-invariance); opposite direction → drift
    2; a (sub, code) cell present on one side only → drift 1; both
    fire the trigger."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(43)
    n = 100
    vecs = rng.standard_normal((n, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    j = F.col("vec_id") % 5
    pool0, late = emb.where(j != 3), emb.where(j == 3)
    rm = emb.where(j == 2).select("vec_id")
    d0 = similarity.pq_encode(pool0)
    maintained = d0.join(rm, "vec_id", "left_anti").unionByName(
        similarity.pq_encode(late)
    )
    rebuilt = similarity.pq_encode(emb.where(j != 2))
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    # trigger policy on synthetic subspace codebooks
    shift = similarity.pq_shift(n)
    base = pool0.select(
        "vec_id", similarity.scaled("embedding").alias("sv")
    )
    cb = similarity.pq_codebook(
        similarity._pq_coded(base), shift
    ).localCheckpoint()
    same = similarity.pq_codebook_drift(cb, cb, 0.1).collect()
    assert same and all(r["drift"] == 0.0 and not r["retrain"] for r in same)
    doubled = cb.select(
        "sub", "code", F.transform("cv", lambda x: x * 2).alias("cv")
    )
    scl = similarity.pq_codebook_drift(cb, doubled, 0.1).collect()
    assert all(r["drift"] == 0.0 and not r["retrain"] for r in scl)
    flipped = cb.select(
        "sub", "code", F.transform("cv", lambda x: -x).alias("cv")
    )
    opp = similarity.pq_codebook_drift(cb, flipped, 0.1).collect()
    assert all(r["drift"] == 2.0 and r["retrain"] for r in opp)
    missing = similarity.pq_codebook_drift(
        cb, cb.where((F.col("sub") != 0) | (F.col("code") != 0)), 0.1
    ).collect()
    gone = [r for r in missing if r["sub"] == 0 and r["code"] == 0]
    assert len(gone) == 1 and gone[0]["drift"] == 1.0 and gone[0]["retrain"]
    assert all(
        r["drift"] == 0.0
        for r in missing
        if not (r["sub"] == 0 and r["code"] == 0)
    )


def test_bpe_train_matches_list_based_reference(spark):
    """d57's trainer contract: the DataFrame loop (paren-string
    replace passes + single-row broadcasts) learns EXACTLY the merges
    an independent list-based Sennrich-reference trainer learns on
    the same (word, freq) vocabulary — winner pair, weighted count,
    and post-merge corpus token count per iteration — including the
    leftmost-non-overlapping apply on runs ('bbbb' + (b,b) → [bb,bb])
    and the deterministic count-then-pair tiebreak."""
    from collections import Counter

    from yuki_spark.operators import bpe

    def reference(word_freqs, n):
        seqs = [(list(w), f) for w, f in word_freqs]
        out = []
        for it in range(1, n + 1):
            c = Counter()
            for syms, f in seqs:
                for a, b in zip(syms, syms[1:]):
                    c[(a, b)] += f
            if not c:
                break
            (a, b), cnt = min(
                c.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
            )
            nxt = []
            for syms, f in seqs:
                merged, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                nxt.append((merged, f))
            seqs = nxt
            tokens_after = sum(f * len(s) for s, f in seqs)
            out.append((it, a, b, a + b, cnt, tokens_after))
        return out

    word_freqs = [
        ("bbbb", 3),      # run: leftmost non-overlap must give [bb, bb]
        ("abab", 5),      # overlapping-count case: (a,b) ×2, (b,a) ×1
        ("table", 7),
        ("tablet", 2),
        ("stable", 4),
        ("zzz", 6),       # run of odd length: [zz, z]
        ("ab", 9),
        ("ba", 9),        # tiebreak territory vs "ab"-derived pairs
    ]
    vocab = spark.createDataFrame(word_freqs, "word string, freq long")
    got = [
        (
            r["iteration"],
            r["sym_a"],
            r["sym_b"],
            r["merged"],
            r["pair_count"],
            r["tokens_after"],
        )
        for r in bpe.bpe_train_merges(vocab, 6).collect()
    ]
    assert got == reference(word_freqs, 6)


def test_perceptron_trainer_matches_reference_and_separates(spark):
    """d59's trainer contract (the d45 discipline: the driver corpus
    is non-separable by construction, so the LEARNING machinery is
    proven on constructed signal): (1) on a linearly separable
    corpus (positives use bucket set A, negatives set B) the batch
    perceptron drives the mistake count to ZERO and keeps it there;
    (2) every iteration's mistake counts and weight checksum match an
    independent numpy reference of the same batch rule exactly."""
    import numpy as np

    from yuki_spark.operators import classifier

    rng = np.random.RandomState(7)
    n, nb = 60, 16
    X = np.zeros((n, nb), dtype=np.int64)
    y = np.array([1 if i % 2 == 0 else -1 for i in range(n)])
    for i in range(n):
        # positives draw counts from buckets 0..7, negatives 8..15
        base = 0 if y[i] == 1 else 8
        for _ in range(5):
            X[i, base + rng.randint(8)] += rng.randint(1, 4)

    def reference(K):
        w = np.zeros(nb, dtype=np.int64)
        rows = []
        for it in range(1, K + 1):
            score = X @ w
            mis = (y * score) <= 0
            w = w + (X[mis] * y[mis, None]).sum(axis=0)
            rows.append(
                (
                    it,
                    int(mis.sum()),
                    int((mis & (y == 1)).sum()),
                    int((mis & (y == -1)).sum()),
                    int((w != 0).sum()),
                    int((w * (np.arange(nb) + 1)).sum()),
                )
            )
        return rows

    feat = spark.createDataFrame(
        [
            (i, b, int(X[i, b]))
            for i in range(n)
            for b in range(nb)
            if X[i, b]
        ],
        "doc_id long, bucket long, x long",
    )
    lbl = spark.createDataFrame(
        [(i, int(y[i])) for i in range(n)], "doc_id long, y long"
    )
    report, w_avg = classifier.perceptron_train(feat, lbl, 4)
    got = [tuple(r) for r in report.collect()]
    assert got == reference(4)
    # separable: mistakes hit zero after the first update and stay
    assert [g[1] for g in got][1:] == [0, 0, 0]
    # and the averaged model classifies the corpus perfectly
    sc = {r["doc_id"]: r["score"] for r in
          classifier._scores(feat, lbl, w_avg).collect()}
    assert all((sc[i] > 0) == (y[i] == 1) for i in range(n))


def test_bpe_exhausted_merges_apply_as_noop(spark):
    """r13 advice: if training exhausts its pair supply before
    n_merges, the empty per-iteration merge frames must apply as
    NO-OPS — the old crossJoin against an empty single-row frame
    silently annihilated the ENTIRE words/state frame (total data
    loss on small vocabularies). Pins: (1) the report stops emitting
    rows at exhaustion, (2) the post-exhaustion state keeps every
    word, (3) applying the exhausted artifact to UNSEEN words
    segments them under the learned merges instead of returning
    an empty frame."""
    from yuki_spark.operators import bpe

    vocab = spark.createDataFrame(
        [("ab", 3), ("a", 2)], "word string, freq long"
    )
    # iter 1 merges (a, b); iters 2..4 find zero pairs (every word a
    # single symbol) and must be no-ops
    report, tops = bpe.bpe_train_merge_frames(vocab, 4)
    rows = report.collect()
    assert [
        (r["iteration"], r["sym_a"], r["sym_b"], r["pair_count"]) for r in rows
    ] == [(1, "a", "b", 3)]
    assert len(tops) == 4 and tops[1].count() == 0

    words = spark.createDataFrame(
        [("ab",), ("a",), ("ba",), ("abab",)], "word string"
    )
    got = {
        r["word"]: r["n_tok"]
        for r in bpe.bpe_apply_merge_frames(words, tops).collect()
    }
    assert got == {"ab": 1, "a": 1, "ba": 2, "abab": 2}


def test_d56_trigram_backoff_chain_branches_live(spark):
    """d56's stupid-backoff chain exercises ALL THREE branches at the
    parity-gate catalog (trigram hit, bigram backoff, unigram
    backoff) — a dead branch would mean the driver hash never
    verifies that leg of the model. Also pins the d52→d56 grain
    relation: the trigram chain scores a subset of d52's eval docs
    (≥ 3 tokens instead of ≥ 2) with strictly more context."""
    from yuki_spark.catalog import load
    from yuki_spark.operators import text
    from yuki_spark.queries import docs as docsq

    sf = "/root/testdata/sf0.001"
    rows = docsq.d56_trigram_lm_perplexity(spark, sf).collect()
    tg = sum(r["n_trigrams"] for r in rows)
    b1 = sum(r["n_backoff_bigram"] for r in rows)
    b2 = sum(r["n_backoff_unigram"] for r in rows)
    assert tg - b1 - b2 > 0, "trigram-hit branch dead"
    assert b1 > 0, "bigram-backoff branch dead"
    assert b2 > 0, "unigram-backoff branch dead"
    # every scored doc is an odd-id doc with >= 3 tokens
    t = text.with_tokens(load(spark, sf, "documents"))
    pd = docsq._d56_per_doc(t)
    ids = {r["doc_id"] for r in pd.select("doc_id").collect()}
    ok = {
        r["doc_id"]
        for r in t.where(
            (F.col("doc_id") % 2 == 1) & (F.col("n_tokens") >= 3)
        ).collect()
    }
    assert ids == ok


def test_filtered_ann_strategy_policy():
    """The executable filtered-ANN policy (r13): constructed
    starvation cases + the invariants that make it a POLICY rather
    than a lookup — 'pre' exactly at/below the selectivity cliff,
    'beam' only when the effective beam keeps >= k expected passing
    slots, 'route' in the starvation gap; monotone in beam (widening
    never demotes beam→route) and in selectivity (loosening the
    filter never re-introduces 'pre'); s29's shipped cells pinned."""
    import pytest as _pytest

    from yuki_spark.operators.similarity import (
        FILTERED_ANN_PRE_MAX,
        filtered_ann_strategy,
    )
    from yuki_spark.queries.sim import HNSW_BEAM, K, S29_FILTER_MODS

    # constructed starvation: selective tenant at base width starves
    assert filtered_ann_strategy(0.5, 3, 4) == "route"  # 2 expected < 3
    assert filtered_ann_strategy(0.5, 3, 8) == "beam"  # widened: 4 >= 3
    assert filtered_ann_strategy(0.125, 3, 32) == "pre"  # at the cliff
    assert filtered_ann_strategy(1.0 / 64, 3, 10**6) == "pre"  # below it
    assert filtered_ann_strategy(1.0, 3, 3) == "beam"  # no-op filter
    assert filtered_ann_strategy(1.0, 3, 2) == "route"  # beam < k at sel 1

    # the cliff is exact: one step above FILTERED_ANN_PRE_MAX leaves
    # 'pre' and lands in beam-vs-route by expectation
    just_above = FILTERED_ANN_PRE_MAX * 1.01
    assert filtered_ann_strategy(just_above, 3, 1) == "route"
    assert filtered_ann_strategy(just_above, 3, 10**4) == "beam"

    # monotone in beam: widening never demotes beam → route
    for sel in (0.2, 0.5, 0.9):
        seen_beam = False
        for beam in range(1, 40):
            s = filtered_ann_strategy(sel, 3, beam)
            assert s in ("beam", "route")
            if s == "beam":
                seen_beam = True
            assert not (seen_beam and s == "route")

    # monotone in selectivity: loosening the filter never returns 'pre'
    sels = [i / 64 for i in range(1, 65)]
    labels = [filtered_ann_strategy(s, 3, 8) for s in sels]
    last_pre = max(i for i, l in enumerate(labels) if l == "pre")
    assert all(l == "pre" for l in labels[: last_pre + 1])

    # the shipped s29 grid exercises all three labels
    grid = {
        filtered_ann_strategy(1.0 / m, K, HNSW_BEAM * w)
        for m in S29_FILTER_MODS
        for w in (1, m)
    }
    assert grid == {"pre", "beam", "route"}

    # contract violations fail loud
    with _pytest.raises(ValueError):
        filtered_ann_strategy(0.0, 3, 4)
    with _pytest.raises(ValueError):
        filtered_ann_strategy(1.5, 3, 4)
    with _pytest.raises(ValueError):
        filtered_ann_strategy(0.5, 0, 4)


def test_hnsw_ladder_moduli_geometry():
    """The ladder-depth formula (the executable 'levels grow with
    log n' claim): nested divisor moduli, entry level at least the
    target size, one level deeper would undershoot it, depth monotone
    in n, and the concrete instances the s22/s24 keys pin."""
    from yuki_spark.operators.similarity import (
        HNSW_BRANCHING,
        HNSW_ENTRY_TARGET,
        hnsw_ladder_moduli,
    )

    b, t = HNSW_BRANCHING, HNSW_ENTRY_TARGET
    prev_depth = 0
    for n in (1, 30, 500, 2_000, 20_000, 500_000, 10**9):
        mods = hnsw_ladder_moduli(n)
        # nested divisor ladder: b, b^2, ..., b^L
        assert mods == [b**i for i in range(1, len(mods) + 1)]
        entry_mod = b * mods[-1]
        if len(mods) > 1:  # depth was chosen, not the floor
            # entry membership over dense vec_ids is ceil(n/mod) —
            # the descent's _lvl_count formula, and the r10-advice
            # fix: the depth rule uses ceil, not floor
            assert -(-n // entry_mod) >= t
        assert -(-n // (entry_mod * b)) < t  # one deeper undershoots
        assert len(mods) >= prev_depth  # depth monotone in corpus size
        prev_depth = len(mods)

    # the two pinned key geometries: s22's 2-level ladder at the test
    # corpus, s24's 3-level ladder once the corpus supports it
    assert hnsw_ladder_moduli(500) == [4]        # entry mod 16 == s22
    assert hnsw_ladder_moduli(b * 16 * t) == [4, 16]  # entry 64 == s24
    # ceil-vs-floor boundary: n = 64·t − 1 has floor(n/64) = t−1 but
    # ceil(n/64) = t — the documented ">= entry_target members" rule
    # (membership IS ceil over dense ids) keeps the deeper ladder
    assert hnsw_ladder_moduli(b * 16 * t - 1) == [4, 16]
    assert -(-(b * 16 * t - 1) // (b * 16)) == t  # membership == target

    import pytest as _pytest

    with _pytest.raises(ValueError):
        hnsw_ladder_moduli(0)


def test_dhash56_decodes_real_png_and_encodes_gradients(spark):
    """dhash56 runs the REAL stdlib PNG decode and sets bit r*7+c iff
    the right neighbor is brighter; a uniform brightness shift leaves
    the hash unchanged (the property that makes dHash perceptual)."""
    from yuki_spark.operators import codecs
    from yuki_spark.operators.multimodal import (
        DHASH_CELLS,
        DHASH_GRID_H,
        DHASH_GRID_W,
        dhash56,
    )

    base = [(i * 7) % 200 for i in range(DHASH_CELLS)]
    shifted = [v + 55 for v in base]  # max 199+55=254: no clipping
    rows = [
        (0, codecs.encode_png(DHASH_GRID_W, DHASH_GRID_H, bytes(base), channels=1)),
        (1, codecs.encode_png(DHASH_GRID_W, DHASH_GRID_H, bytes(shifted), channels=1)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: r["sh"] for r in dhash56(df).collect()}

    want = 0
    for r in range(DHASH_GRID_H):
        for c in range(DHASH_GRID_W - 1):
            if base[r * DHASH_GRID_W + c] < base[r * DHASH_GRID_W + c + 1]:
                want |= 1 << (r * (DHASH_GRID_W - 1) + c)
    assert got[0] == want
    assert got[1] == want  # brightness-shift invariant
    assert 0 <= want < (1 << 56)  # 56-bit: non-negative in int64

    # the vectorized numpy pack (r12) stays bit-identical to the
    # scalar reference loop on arbitrary pixels, incl. the all-bits
    # extremes
    import numpy as _np

    rng = _np.random.RandomState(3)
    for px in [
        rng.randint(0, 256, DHASH_CELLS).astype("uint8").tobytes(),
        bytes(range(DHASH_CELLS)),          # every compare true
        bytes(reversed(range(DHASH_CELLS))),  # every compare false
    ]:
        rdf = spark.createDataFrame(
            [(7, codecs.encode_png(DHASH_GRID_W, DHASH_GRID_H, px, channels=1))],
            "doc_id long, media binary",
        )
        ref = 0
        for r in range(DHASH_GRID_H):
            for c in range(DHASH_GRID_W - 1):
                if px[r * DHASH_GRID_W + c] < px[r * DHASH_GRID_W + c + 1]:
                    ref |= 1 << (r * (DHASH_GRID_W - 1) + c)
        assert dhash56(rdf).collect()[0]["sh"] == ref

    # a wrong-geometry payload fails LOUDLY, never hashes garbage
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(9, codecs.encode_png(4, 4, bytes(16), channels=1))],
        "doc_id long, media binary",
    )
    with _pytest.raises(Exception, match="dhash56 wants"):
        dhash56(bad).collect()


def test_synth_token_png_is_real_container_with_histogram_cells(spark):
    """synth_token_png emits a decodable grayscale PNG whose pixels
    are exactly the distinct-token bucket histogram (capped 255) —
    the generative rule the d50 oracle recomputes in SQL."""
    import hashlib

    from yuki_spark.operators import codecs
    from yuki_spark.operators.multimodal import (
        DHASH_CELLS,
        DHASH_GRID_H,
        DHASH_GRID_W,
        synth_token_png,
    )

    text = "alpha beta  beta gamma"
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    payload = bytes(synth_token_png(df).collect()[0]["media"])
    assert codecs.sniff(payload) == "png"
    w, h, ch, px = codecs.decode_png(payload)
    assert (w, h, ch) == (DHASH_GRID_W, DHASH_GRID_H, 1)

    want = [0] * DHASH_CELLS
    for tok in {"alpha", "beta", "gamma"}:  # DISTINCT tokens
        h60 = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        want[h60 % DHASH_CELLS] += 1
    assert list(px) == want


def test_hamming_pairs_from_hashes_contract(spark):
    """Pigeonhole blocking is exact up to n_chunks-1 differing bits
    (equals brute force) and REFUSES a threshold it cannot honor."""
    import itertools
    import random

    import pytest as _pytest

    from yuki_spark.operators.dedup import hamming_pairs_from_hashes

    rng = random.Random(11)
    vals = [rng.getrandbits(56) for _ in range(12)]
    vals.append(vals[0] ^ 0b111111)  # exactly Hamming 6 from vals[0]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "doc_id long, sh long")
    got = sorted(
        tuple(r)
        for r in hamming_pairs_from_hashes(
            df, 6, n_chunks=7, chunk_bits=8
        ).collect()
    )
    want = sorted(
        (a, b, bin(va ^ vb).count("1"))
        for (a, va), (b, vb) in itertools.combinations(rows, 2)
        if bin(va ^ vb).count("1") <= 6
    )
    assert got == want
    assert (0, len(vals) - 1, 6) in got  # the boundary pair survives

    with _pytest.raises(ValueError, match="pigeonhole"):
        hamming_pairs_from_hashes(df, 7, n_chunks=7, chunk_bits=8)


def test_html_extraction_rules(spark):
    """The d51 extraction core: chrome blocks (title/nav/footer) and
    link-bearing or empty paragraphs drop; content paragraphs are
    re-joined in document order, recovering the original text."""
    import hashlib

    from yuki_spark.operators import html

    docs = spark.createDataFrame(
        [(1, "alpha beta. gamma delta"), (2, "")],
        "doc_id long, text string",
    )
    pages = html.synth_html(docs)

    blocks = {
        (r["doc_id"], r["pos"]): r for r in html.html_blocks(pages).collect()
    }
    tags1 = [blocks[(1, p)]["tag"] for p in range(7)]
    assert tags1 == ["html", "title", "nav", "p", "p", "p", "footer"]
    assert blocks[(1, 2)]["n_links"] == 2 and not blocks[(1, 2)]["keep"]
    assert blocks[(1, 3)]["keep"] and blocks[(1, 3)]["btext"] == "alpha beta."
    assert blocks[(1, 5)]["n_links"] == 1 and not blocks[(1, 5)]["keep"]

    rep = {r["doc_id"]: r for r in html.extract_main_text(pages).collect()}
    assert rep[1]["n_blocks"] == 7 and rep[1]["n_kept"] == 2
    assert rep[1]["n_links"] == 4  # 2 nav + 1 related + 1 footer
    want = "alpha beta. gamma delta"  # extraction recovers the text
    assert rep[1]["extracted_len"] == len(want)
    assert rep[1]["extracted_md5"] == hashlib.md5(want.encode()).hexdigest()
    # empty doc: its lone paragraph is empty -> nothing kept
    assert rep[2]["n_kept"] == 0
    assert rep[2]["extracted_md5"] == hashlib.md5(b"").hexdigest()


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_knn_graph_retract_exact_equality_and_level_repair(spark):
    """Incremental graph maintenance under batch deletion
    (similarity.knn_graph_retract): on an EXACT top-k graph the
    repaired graph equals a from-scratch exact build over the
    survivors ROW-FOR-ROW (ground level AND a ladder level restricted
    to its members), untouched vertices keep their rows verbatim, and
    on an APPROXIMATE deposit the repair is conservative (untouched
    unchanged, touched exact, per-vertex recall non-decreasing)."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(7)
    n, k = 120, 3
    vecs = rng.standard_normal((n, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def exact(frame):
        return similarity.cosine_topk(frame, k=k, n_queries=10**9)

    g0 = exact(df)
    removed = [4, 17, 50]  # 4 is also a mod-4 ladder member
    ids = spark.createDataFrame([(i,) for i in removed], "vec_id long")
    surv = df.join(ids, "vec_id", "left_anti")

    got = sorted(
        tuple(r) for r in similarity.knn_graph_retract(surv, g0, ids, k=k).collect()
    )
    want = sorted(tuple(r) for r in exact(surv).collect())
    assert got == want  # from-scratch equality at ground level

    # untouched vertices pass through VERBATIM (same rows incl. rk)
    g0_rows = {}
    touched = set()
    for r in g0.collect():
        g0_rows.setdefault(r["qid"], []).append(tuple(r))
        if r["cid"] in removed:
            touched.add(r["qid"])
    for qid, grp in g0_rows.items():
        if qid not in removed and qid not in touched:
            assert [t for t in want if t[0] == qid] == sorted(grp)
    assert touched  # the removal actually touched someone

    # ladder level (members = vec_id % 4 == 0): repair against the
    # surviving MEMBERS equals a from-scratch exact build over them
    mem = df.where(F.col("vec_id") % 4 == 0)
    g1 = exact(mem)
    surv_mem = surv.where(F.col("vec_id") % 4 == 0)
    got1 = sorted(
        tuple(r)
        for r in similarity.knn_graph_retract(
            surv, g1, ids, k=k, members=surv_mem
        ).collect()
    )
    assert got1 == sorted(tuple(r) for r in exact(surv_mem).collect())

    # approximate deposit: conservative repair
    base = similarity.knn_graph(df, k=k, n_planes=8)
    rep = similarity.knn_graph_retract(surv, base, ids, k=k)
    base_rows = {r["qid"]: set() for r in base.collect()}
    touched_a = set()
    for r in base.collect():
        base_rows[r["qid"]].add((r["rk"], r["cid"], r["cosine"]))
        if r["cid"] in removed:
            touched_a.add(r["qid"])
    rep_rows = {}
    for r in rep.collect():
        rep_rows.setdefault(r["qid"], set()).add((r["rk"], r["cid"], r["cosine"]))
    exact_surv = {}
    for t in want:
        exact_surv.setdefault(t[0], set()).add((t[1], t[2], t[3]))
    for qid, got_set in rep_rows.items():
        if qid in touched_a:
            assert got_set == exact_surv[qid]  # touched became exact
        else:
            assert got_set == base_rows[qid]  # untouched verbatim
    assert not any(q in rep_rows for q in removed)


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_knn_graph_churn_lsh_repair_bounded_and_conservative(spark):
    """repair="lsh" (r12): churn repair candidates come from the s11
    multi-probe sign buckets instead of full-pool broadcasts. With a
    probe set that covers every bucket (n_planes=1 → 2 buckets,
    probes = own + flip) the LSH mode reproduces the exact mode
    ROW-FOR-ROW — same machinery, full candidate coverage. At a
    bounded width the repair stays CONSERVATIVE: untouched vertices
    verbatim, every touched/re-cut vertex's cosine multiset dominates
    what it had before (candidates ⊇ current surviving edges), and a
    replayed ingest batch is a no-op."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(23)
    n, k = 150, 3
    vecs = rng.standard_normal((n, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def exact(frame):
        return similarity.cosine_topk(frame, k=k, n_queries=10**9)

    g0 = exact(df)
    removed = [3, 40, 77]
    ids = spark.createDataFrame([(i,) for i in removed], "vec_id long")
    surv = df.join(ids, "vec_id", "left_anti")

    # --- full-coverage equality: LSH == exact == from-scratch
    want = sorted(tuple(r) for r in exact(surv).collect())
    got_cover = sorted(
        tuple(r)
        for r in similarity.knn_graph_retract(
            surv, g0, ids, k=k, repair="lsh", n_planes=1
        ).collect()
    )
    assert got_cover == want

    # --- bounded width: conservative repair on the exact deposit
    rep = similarity.knn_graph_retract(
        surv, g0, ids, k=k, repair="lsh", n_planes=6
    )
    g0_rows, touched = {}, set()
    for r in g0.collect():
        g0_rows.setdefault(r["qid"], []).append(r)
        if r["cid"] in removed:
            touched.add(r["qid"])
    rep_rows = {}
    for r in rep.collect():
        assert r["qid"] not in removed and r["cid"] not in removed
        rep_rows.setdefault(r["qid"], []).append(r)
    for qid, grp in g0_rows.items():
        if qid in removed:
            continue
        if qid not in touched:
            assert sorted((r["rk"], r["cid"], r["cosine"]) for r in grp) == sorted(
                (r["rk"], r["cid"], r["cosine"]) for r in rep_rows[qid]
            )
        else:
            surviving = sorted(
                (r["cosine"] for r in grp if r["cid"] not in removed),
                reverse=True,
            )
            new = sorted((r["cosine"] for r in rep_rows[qid]), reverse=True)
            assert len(new) >= len(surviving)
            assert all(nc >= sc for nc, sc in zip(new, surviving))

    # --- ingest: full-coverage equality + bounded conservative merge
    batch_ids = list(range(n, n + 5))
    bvecs = rng.standard_normal((5, 64)).astype("float32")
    brows = [
        (batch_ids[j], [float(x) for x in bvecs[j]], 0) for j in range(5)
    ]
    batch = spark.createDataFrame(
        brows, "vec_id long, embedding array<float>, label int"
    )
    full = df.unionByName(batch)
    got_ing = sorted(
        tuple(r)
        for r in similarity.knn_graph_ingest(
            g0, batch, k=k, members=full, repair="lsh", n_planes=1
        ).collect()
    )
    assert got_ing == sorted(tuple(r) for r in exact(full).collect())

    bounded = similarity.knn_graph_ingest(
        g0, batch, k=k, members=full, repair="lsh", n_planes=6
    ).localCheckpoint()
    brows_by_q = {}
    for r in bounded.collect():
        brows_by_q.setdefault(r["qid"], []).append(r)
    for qid, grp in g0_rows.items():  # every old vertex: dominance
        old = sorted((r["cosine"] for r in grp), reverse=True)
        new = sorted((r["cosine"] for r in brows_by_q[qid]), reverse=True)
        assert len(new) >= len(old)
        assert all(nc >= oc for nc, oc in zip(new, old))
    for b in batch_ids:  # new vertices got bucket-mate neighborhoods
        assert 1 <= len(brows_by_q.get(b, [])) <= k

    # --- replay idempotence in LSH mode
    replay = similarity.knn_graph_ingest(
        bounded, batch, k=k, members=full, repair="lsh", n_planes=6
    )
    assert sorted(tuple(r) for r in replay.collect()) == sorted(
        tuple(r) for r in bounded.collect()
    )

    # --- unknown mode fails loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="repair must be"):
        similarity.knn_graph_retract(surv, g0, ids, k=k, repair="bogus")


def test_knn_graph_lsh_starvation_fallback(spark):
    """r12 review finding: in repair="lsh", a touched vertex whose
    surviving edges were ALL removed and whose probe buckets hold no
    mates must NOT vanish from the deposit — it falls back to the
    exact-mode re-rank (same rows exact mode produces). Construct the
    pathological case directly: a tight near-dup cluster (vertex v +
    its k neighbors, all nearly colinear → same sign bucket under
    every plane) fully retracted EXCEPT v, with the rest of the
    corpus in other buckets; ingest twin: a batch vector colinear
    with nothing still enters with an exact neighborhood."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(53)
    k = 3
    # cluster: v=0 and 1..3 are tiny perturbations of one direction
    base_dir = rng.standard_normal(64).astype("float64")
    rows = []
    for i in range(4):
        v = base_dir + 1e-4 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v], 0))
    # the rest: far-away directions
    for i in range(4, 40):
        rows.append((i, [float(x) for x in rng.standard_normal(64)], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    g0 = similarity.cosine_topk(df, k=k, n_queries=10**9)
    # sanity: 0's neighbors are exactly the cluster mates
    assert {r["cid"] for r in g0.collect() if r["qid"] == 0} == {1, 2, 3}
    ids = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long")
    surv = df.join(ids, "vec_id", "left_anti")
    # wide planes → 0 shares no bucket (nor 1-bit probe) with the
    # scattered rest with overwhelming probability at this seed; the
    # fallback must still return k exact rows for vertex 0
    got = similarity.knn_graph_retract(
        surv, g0, ids, k=k, repair="lsh", n_planes=12
    )
    want = similarity.cosine_topk(surv, k=k, n_queries=10**9)
    got0 = sorted(tuple(r) for r in got.collect() if r["qid"] == 0)
    want0 = sorted(tuple(r) for r in want.collect() if r["qid"] == 0)
    assert len(got0) == k
    assert got0 == want0  # the fallback IS the exact-mode repair

    # ingest twin: a lone new vector with no bucket mates still lands
    batch = spark.createDataFrame(
        [(100, [float(x) for x in rng.standard_normal(64)], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    full = surv.unionByName(batch)
    ing = similarity.knn_graph_ingest(
        want, batch, k=k, members=full, repair="lsh", n_planes=12
    )
    new_rows = [r for r in ing.collect() if r["qid"] == 100]
    exact_new = [
        r
        for r in similarity.cosine_topk(full, k=k, n_queries=10**9).collect()
        if r["qid"] == 100
    ]
    assert sorted(map(tuple, new_rows)) == sorted(map(tuple, exact_new))


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_knn_graph_lsh_persisted_bucket_table_equivalence(spark):
    """r12: repair="lsh" with a PERSISTED (vec_id, bucket) table —
    the deposit that amortizes the per-batch plane scan — must equal
    the compute-inline path ROW-FOR-ROW at the same n_planes (the
    table IS _sign_bucketed's projection), and must fail loud when
    n_planes is omitted (probe flips at a different width would probe
    garbage)."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(61)
    n, k, planes = 80, 3, 6
    rows = [
        (i, [float(x) for x in rng.standard_normal(64)], 0) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    g0 = similarity.cosine_topk(df, k=k, n_queries=10**9)
    ids = spark.createDataFrame([(4,), (17,)], "vec_id long")
    surv = df.join(ids, "vec_id", "left_anti")
    tbl = (
        similarity._sign_bucketed(surv, planes)
        .select("vec_id", "bucket")
        .localCheckpoint()
    )
    inline = similarity.knn_graph_retract(
        surv, g0, ids, k=k, repair="lsh", n_planes=planes
    )
    deposit = similarity.knn_graph_retract(
        surv, g0, ids, k=k, repair="lsh", n_planes=planes, bucketed=tbl
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, deposit.collect())
    )

    batch = spark.createDataFrame(
        [(200, [float(x) for x in rng.standard_normal(64)], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    full = surv.unionByName(batch)
    tbl_full = (
        similarity._sign_bucketed(full, planes)
        .select("vec_id", "bucket")
        .localCheckpoint()
    )
    base_graph = similarity.cosine_topk(surv, k=k, n_queries=10**9)
    inline_i = similarity.knn_graph_ingest(
        base_graph, batch, k=k, members=full, repair="lsh", n_planes=planes
    )
    deposit_i = similarity.knn_graph_ingest(
        base_graph, batch, k=k, members=full, repair="lsh",
        n_planes=planes, bucketed=tbl_full,
    )
    assert sorted(map(tuple, inline_i.collect())) == sorted(
        map(tuple, deposit_i.collect())
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="fixed n_planes"):
        similarity.knn_graph_retract(
            surv, g0, ids, k=k, repair="lsh", bucketed=tbl
        )


def test_knn_graph_retract_raises_on_pool_grain_mismatch(spark):
    """Contract guard (r11 advice): a touched vertex absent from the
    repair pool — a ground-level graph repaired against a thinned
    members level — must FAIL LOUD at execution instead of silently
    losing the vertex's rows, mirroring knn_graph_ingest's members
    guard. And the guard must stay invisible when the contract holds
    (covered by the equality tests above: same rows, no extras)."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(11)
    n, k = 60, 3
    vecs = rng.standard_normal((n, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    g0 = similarity.cosine_topk(df, k=k, n_queries=10**9)  # ground level
    ids = spark.createDataFrame([(5,), (9,)], "vec_id long")
    surv = df.join(ids, "vec_id", "left_anti")
    # members at a MISMATCHED grain: mod-4 level — touched vertices
    # that are not multiples of 4 are absent from the pool
    mem = surv.where(F.col("vec_id") % 4 == 0)
    with pytest.raises(Exception, match="absent from the repair pool"):
        similarity.knn_graph_retract(surv, g0, ids, k=k, members=mem).collect()


@pytest.mark.slow  # r14 verdict item 1: stress/equality redundancy tier (full CI via citest)
def test_knn_graph_ingest_exact_equality_and_conservative_merge(spark):
    """Incremental graph maintenance under batch INSERTION
    (similarity.knn_graph_ingest, knn_graph_retract's twin): on an
    EXACT top-k graph the merged graph equals a from-scratch exact
    build over the post-insertion pool ROW-FOR-ROW (ground level AND a
    ladder level), re-applying the same batch is idempotent (replay),
    and on an APPROXIMATE deposit per-vertex recall never decreases.
    A retract→ingest round-trip restores the original graph exactly."""
    import numpy as np

    from yuki_spark.operators import similarity

    rng = np.random.RandomState(13)
    n, nb, k = 100, 8, 3
    vecs = rng.standard_normal((n + nb, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(n + nb)]
    full = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    old = full.where(F.col("vec_id") < n)
    batch = full.where(F.col("vec_id") >= n)

    def exact(frame):
        return similarity.cosine_topk(frame, k=k, n_queries=10**9)

    g_old = exact(old)
    got = similarity.knn_graph_ingest(g_old, batch, k=k, members=full)
    want = sorted(tuple(r) for r in exact(full).collect())
    assert sorted(tuple(r) for r in got.collect()) == want

    # replay: re-applying the same batch over the merged graph is a no-op
    replay = similarity.knn_graph_ingest(
        spark.createDataFrame(got.collect(), got.schema), batch, k=k, members=full
    )
    assert sorted(tuple(r) for r in replay.collect()) == want

    # ladder level (members = vec_id % 4 == 0)
    mem_old = old.where(F.col("vec_id") % 4 == 0)
    mem_full = full.where(F.col("vec_id") % 4 == 0)
    mem_batch = batch.where(F.col("vec_id") % 4 == 0)
    got1 = similarity.knn_graph_ingest(
        exact(mem_old), mem_batch, k=k, members=mem_full
    )
    assert sorted(tuple(r) for r in got1.collect()) == sorted(
        tuple(r) for r in exact(mem_full).collect()
    )

    # retract→ingest round-trip: removing the batch from the merged
    # graph restores the pre-insertion exact graph row-for-row
    ids = batch.select("vec_id")
    back = similarity.knn_graph_retract(old, got, ids, k=k)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in g_old.collect()
    )

    # approximate deposit: recall non-decreasing, new vertices exact
    approx = similarity.knn_graph(old, k=k, n_planes=8)
    rep = similarity.knn_graph_ingest(approx, batch, k=k, members=full)
    truth_rows = {}
    for t in want:
        truth_rows.setdefault(t[0], set()).add(t[2])
    base_hits = {}
    for r in approx.collect():
        base_hits.setdefault(r["qid"], set()).add(r["cid"])
    rep_rows = {}
    for r in rep.collect():
        rep_rows.setdefault(r["qid"], set()).add(r["cid"])
    for qid in range(n):  # existing vertices never lose a true edge
        b = len(base_hits.get(qid, set()) & truth_rows[qid])
        a = len(rep_rows.get(qid, set()) & truth_rows[qid])
        assert a >= b
    for qid in range(n, n + nb):  # new vertices are exact
        assert rep_rows[qid] == truth_rows[qid]

    # members is required — the graph's qid set cannot stand in
    with pytest.raises(ValueError, match="member pool"):
        similarity.knn_graph_ingest(g_old, batch, k=k)


def test_relabel_after_addition_equals_rebuild(spark):
    """Incremental CC relabel under edge addition == from-scratch
    dedup_clusters over the union, on every interesting shape at once:
    a MERGE of two components via a bridging new edge (both relabel at
    the joint min), an extension of a component by a new doc, a
    brand-new two-doc component, an intra-component edge (condensed
    self-loop — no-op), and an untouched component (rows verbatim)."""

    def pdf(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    # existing: {1,2} {5,6} {10,11} {20,21,22}
    old = pdf([(1, 2), (5, 6), (10, 11), (20, 21), (21, 22)])
    clusters = dedup.dedup_clusters(old)
    # new: merge {1,2}+{5,6} via (2,5); extend {10,11} with 12;
    # brand-new {30,31}; intra-component (20,22) no-op
    new = pdf([(2, 5), (11, 12), (30, 31), (20, 22)])

    got = sorted(
        tuple(r) for r in dedup.relabel_after_addition(clusters, new).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup.dedup_clusters(old.unionByName(new)).collect()
    )
    assert got == want
    asmap = dict(got)
    assert asmap[5] == 1 and asmap[6] == 1 and asmap[2] == 1  # merged
    assert asmap[12] == 10  # extended
    assert asmap[30] == 30 and asmap[31] == 30  # brand-new
    assert asmap[20] == 20 and asmap[21] == 20 and asmap[22] == 20  # no-op


def test_relabel_after_addition_on_real_corpus(spark):
    """On the real sf0.001 near-dup graph: labels built from a prefix
    of the pair table, then incrementally merged with the remaining
    pairs, equal the from-scratch rebuild over all pairs."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap = docs.where(F.col("doc_id") < 300).select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(cap, threshold=0.8).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=False)
    old = pairs.where((F.col("doc_a") + F.col("doc_b")) % 3 != 0)
    new = pairs.where((F.col("doc_a") + F.col("doc_b")) % 3 == 0)
    clusters = dedup.dedup_clusters(old)
    got = sorted(
        tuple(r) for r in dedup.relabel_after_addition(clusters, new).collect()
    )
    want = sorted(tuple(r) for r in dedup.dedup_clusters(pairs).collect())
    assert got == want and len(got) > 0


# ---- fused synth→codec→hash passes (r14 optimization round) -------------


def test_fused_dhash56_equals_composed(spark):
    """dhash56_from_sets/_from_docs (one Arrow pass) must match the
    composed synth_token_png→dhash56 chain row-for-row on the real
    corpus — the fused path reuses the same per-row helpers, and this
    pin keeps any future divergence loud."""
    from yuki_spark.operators import multimodal as mm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    composed = sorted(
        tuple(r)
        for r in mm.dhash56(mm.synth_token_png(docs))
        .select("doc_id", "sh")
        .collect()
    )
    fused = sorted(
        tuple(r) for r in mm.dhash56_from_docs(docs).collect()
    )
    assert fused == composed and len(fused) > 0


def test_fused_video_frame_dhash56_equals_composed(spark):
    """video_frame_dhash56 (one Arrow pass) ≡ synth_token_video →
    frame_sample → dhash56 — same container assembly, same real walk,
    same PNG decode, row-for-row."""
    from yuki_spark.operators import multimodal as mm

    nf = 4
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames = mm.frame_sample(mm.synth_token_video(docs, n_frames=nf), n_frames=nf)
    composed = sorted(
        tuple(r)
        for r in mm.dhash56(
            frames.select(
                "doc_id",
                F.col("frame_idx").alias("fi"),
                F.col("frame").alias("media"),
            ).select(
                (F.col("doc_id") * nf + F.col("fi")).alias("doc_id"), "media"
            )
        ).collect()
    )
    fused = sorted(
        (int(r["doc_id"]) * nf + int(r["frame_idx"]), int(r["sh"]))
        for r in mm.video_frame_dhash56(docs, n_frames=nf).collect()
    )
    assert fused == composed and len(fused) > 0


def test_fused_audio_fingerprint56_equals_composed(spark):
    """audio_fingerprint56_from_docs (one Arrow pass) ≡
    synth_token_wav → audio_fingerprint56 — same WAV pack, same real
    stdlib decode, same envelope hash, row-for-row."""
    from yuki_spark.operators import multimodal as mm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    composed = sorted(
        tuple(r)
        for r in mm.audio_fingerprint56(
            mm.synth_token_wav(docs), n_segments=mm.AUDIO_SEGMENTS
        ).collect()
    )
    fused = sorted(
        tuple(r)
        for r in mm.audio_fingerprint56_from_docs(
            docs, n_segments=mm.AUDIO_SEGMENTS
        ).collect()
    )
    assert fused == composed and len(fused) > 0
