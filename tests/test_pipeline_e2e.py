"""End-to-end golden clusters on the deterministic labeled corpus
(SURVEY.md §5.4-5.6): pairwise F1 >= 0.99 at the same blocking key, exact
agreement with a single-node O(n²)+union-find oracle, span invariant, and
salting result-equivalence on the hot block."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sneaky_data_matcher_spark.functions.similarity import _jaro_winkler_py
from sneaky_data_matcher_spark.operators import blocking
from sneaky_data_matcher_spark.plans import pipeline as P
from sneaky_data_matcher_spark.sources.spans import span_violations


@pytest.fixture(scope="module")
def pipeline_out(synth_corpus):
    docs, labeled = synth_corpus
    cfg = P.PipelineConfig()
    canon = P.canonicalize_docs(docs).localCheckpoint(eager=True)
    pairs = P.build_candidate_pairs(canon, cfg).localCheckpoint(eager=True)
    scored = P.score_candidates(pairs, canon, cfg).localCheckpoint(eager=True)
    clusters = P.assign_clusters(scored, canon, cfg).localCheckpoint(eager=True)
    return dict(
        docs=docs, labeled=labeled, cfg=cfg, canon=canon, pairs=pairs,
        scored=scored, clusters=clusters,
    )


def _pairwise_f1(clusters, labeled_in_candidates):
    a = clusters.select(F.col("doc_id").alias("doc_id_a"), F.col("cluster_id").alias("ca"))
    b = clusters.select(F.col("doc_id").alias("doc_id_b"), F.col("cluster_id").alias("cb"))
    ev = (
        labeled_in_candidates.join(a, "doc_id_a").join(b, "doc_id_b")
        .withColumn("pred", F.col("ca") == F.col("cb"))
    )
    r = ev.agg(
        F.sum(F.when(F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("is_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = r["tp"], r["fp"], r["fn"]
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def test_pairwise_f1(pipeline_out):
    """North-rule gate: F1 >= 0.99 on labeled pairs sharing a blocking key."""
    lab = pipeline_out["labeled"].join(
        pipeline_out["pairs"], ["doc_id_a", "doc_id_b"], "inner"
    )
    assert lab.count() > 0
    f1 = _pairwise_f1(pipeline_out["clusters"], lab)
    assert f1 >= 0.99, f"pairwise F1 {f1} < 0.99"


def test_blocking_recall(pipeline_out):
    """Multi-pass blocking must surface the large majority of true pairs."""
    pos = pipeline_out["labeled"].where("is_match")
    n_pos = pos.count()
    n_hit = pos.join(pipeline_out["pairs"], ["doc_id_a", "doc_id_b"], "inner").count()
    assert n_hit / n_pos >= 0.80, f"blocking recall {n_hit}/{n_pos}"


def test_exact_cluster_agreement_with_oracle(pipeline_out, spark):
    """Single-node oracle: exhaustive O(n²) scoring (same formula, python
    Jaro-Winkler) + union-find over the SAME candidate pairs — cluster
    assignments must agree exactly (SURVEY.md §5.4)."""
    cfg = pipeline_out["cfg"]
    canon_rows = {
        r["doc_id"]: (r["doc_text"], set(r["media_refs"]))
        for r in pipeline_out["canon"].collect()
    }
    pair_rows = [
        (r["doc_id_a"], r["doc_id_b"]) for r in pipeline_out["pairs"].collect()
    ]

    def lev(s1, s2):
        # classic DP, small inputs only (oracle)
        if s1 == s2:
            return 0
        prev = list(range(len(s2) + 1))
        for i, c1 in enumerate(s1, 1):
            cur = [i]
            for j, c2 in enumerate(s2, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2)))
            prev = cur
        return prev[-1]

    w = cfg.weights
    import sys

    sys.setrecursionlimit(10000)
    from tests.test_clustering import _UnionFind

    uf = _UnionFind()
    plen = cfg.score_prefix_len
    for a, b in pair_rows:
        ta, ma = canon_rows[a]
        tb, mb = canon_rows[b]
        pa, pb = ta[:plen], tb[:plen]
        jw = _jaro_winkler_py(pa, pb)
        ml = max(len(pa), len(pb))
        lr = 1.0 if ml == 0 else 1.0 - lev(pa, pb) / ml
        sa, sb = set(ta.split()), set(tb.split())
        un = sa | sb
        tj = 1.0 if not un else len(sa & sb) / len(un)
        med = 1.0 if ma & mb else (0.5 if not ma and not mb else 0.0)
        score = w["jw"] * jw + w["lev"] * lr + w["tok"] * tj + w["med"] * med
        if score >= cfg.threshold:
            uf.union(a, b)
    expected = {}
    comp: dict[str, list[str]] = {}
    for d in canon_rows:
        comp.setdefault(uf.find(d), []).append(d)
    for members in comp.values():
        rep = min(members)
        for m in members:
            expected[m] = rep

    got = {
        r["doc_id"]: r["cluster_id"] for r in pipeline_out["clusters"].collect()
    }
    assert got == expected


def test_span_invariant_through_pipeline(pipeline_out):
    """North-rule invariant: spans are byte-identical after the pipeline —
    stages only derive columns. (The pipeline never even projects spans
    away from the source frame; compare source vs source joined through
    the cluster output.)"""
    docs = pipeline_out["docs"]
    after = docs.join(pipeline_out["clusters"], "doc_id").select("doc_id", "spans")
    assert span_violations(docs, after) == 0


def test_salting_cluster_equivalence(synth_corpus):
    """Hot-block salting must not change final clusters (multi-pass keys
    preserve recall) — SURVEY.md §5.6."""
    docs, _ = synth_corpus
    out_salted = {}
    out_unsalted = {}
    for salting, sink in ((True, out_salted), (False, out_unsalted)):
        cfg = P.PipelineConfig(salting_enabled=salting, max_block_size=20)
        res = P.run(docs, cfg)
        for r in res["clusters"].collect():
            sink[r["doc_id"]] = r["cluster_id"]
    assert out_salted == out_unsalted


def test_salting_bounds_block_size(synth_corpus):
    """Census: after salting no (pass, block_key, salt) group exceeds
    ~max_block_size (up to hash-imbalance slack)."""
    docs, _ = synth_corpus
    cfg = P.PipelineConfig(max_block_size=20)
    canon = P.canonicalize_docs(docs)
    keys = blocking.blocking_keys(canon)
    salted = blocking.salt_keys(keys, cfg.max_block_size)
    worst = (
        salted.groupBy("pass", "block_key", "salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # salt is uniform-hash; allow 2x slack over the cap
    assert worst <= cfg.max_block_size * 2, worst


def test_fused_scoring_rejected():
    """The fused block+score path is gone: fused_scoring only accepts False."""
    P.PipelineConfig(fused_scoring=False)
    with pytest.raises(ValueError):
        P.PipelineConfig(fused_scoring=True)


def test_banded_scoring_identical_matches_and_clusters(synth_corpus):
    """Banded scoring (skip edit-distance kernels for pairs whose cheap-
    term bound cannot reach the threshold) must yield the IDENTICAL match
    set, identical clusters, and exact full scores on every surviving
    (>= threshold-capable) pair — at a high threshold where pruning bites
    hard AND at the default threshold where it barely fires."""
    from pyspark.sql import functions as F

    from sneaky_data_matcher_spark.operators import scoring

    docs, _ = synth_corpus
    for thr in (0.85, scoring.DEFAULT_THRESHOLD):
        full = P.run(docs, P.PipelineConfig(threshold=thr, banded_scoring=False))
        band = P.run(docs, P.PipelineConfig(threshold=thr, banded_scoring=True))
        m_full = {
            (r["doc_id_a"], r["doc_id_b"], round(r["score"], 9))
            for r in scoring.matches(full["scored"], thr).collect()
        }
        m_band = {
            (r["doc_id_a"], r["doc_id_b"], round(r["score"], 9))
            for r in scoring.matches(band["scored"], thr).collect()
        }
        assert m_full == m_band, thr
        cl_f = {r["doc_id"]: r["cluster_id"] for r in full["clusters"].collect()}
        cl_b = {r["doc_id"]: r["cluster_id"] for r in band["clusters"].collect()}
        assert cl_f == cl_b, thr
        # pruned rows are sound: their cheap partial stays under thr and
        # their kernels were genuinely skipped (NULL markers)
        pruned = band["scored"].where(F.col("jw").isNull())
        assert pruned.where(F.col("score") >= thr).count() == 0
        if thr == 0.85:
            assert pruned.count() > 0  # pruning actually fired
