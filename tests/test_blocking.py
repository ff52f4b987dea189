"""Blocking operators: sorted-neighborhood windows (vs a single-node
oracle, proving seam coverage across range partitions) and salted
hot-block pair-count bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from sneaky_data_matcher_spark.operators import blocking
from sneaky_data_matcher_spark.plans import pipeline as P


def _canon(synth_corpus):
    docs, _ = synth_corpus
    return P.canonicalize_docs(docs).localCheckpoint(eager=True)


def test_sorted_neighborhood_matches_single_node_oracle(spark, synth_corpus):
    """Forces MULTI-partition runs (7 and 64 range partitions on 600 docs —
    64 guarantees empty/short partitions): the global-rank construction
    must reproduce the single-node sliding window exactly across seams.
    (A one-partition run passes vacuously; an earlier tail×head seam
    heuristic failed exactly here.)"""
    canon = _canon(synth_corpus)
    window = 5
    rows = sorted(
        ((r["doc_text"], r["doc_id"]) for r in canon.collect() if r["doc_text"]),
    )
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, min(i + window, len(rows))):
            a, b = sorted((rows[i][1], rows[j][1]))
            want.add((a, b))
    for nparts in (1, 7, 64):
        got = {
            (r["doc_id_a"], r["doc_id_b"])
            for r in blocking.sorted_neighborhood_pairs(
                canon, window=window, num_partitions=nparts
            ).collect()
        }
        assert got == want, f"num_partitions={nparts}"


def test_sorted_neighborhood_empty_and_tiny(spark):
    canon = spark.createDataFrame(
        [("d1", "alpha", []), ("d2", "", [])],
        "doc_id string, doc_text string, media_refs array<string>",
    )
    out = blocking.sorted_neighborhood_pairs(canon, window=4).collect()
    assert out == []  # blank-key doc dropped, single doc pairs with nobody


def test_salting_bounds_block_pair_work(spark, synth_corpus):
    """Hot block ('acme' leading token) must be split so no (block, salt)
    sub-block exceeds the cap — the north rule's salted repartitioning."""
    canon = _canon(synth_corpus)
    cap = 50
    keys = blocking.blocking_keys(canon)
    salted = blocking.salt_keys(keys, max_block_size=cap)
    worst = (
        salted.groupBy("pass", "block_key", "salt")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]["m"]
    )
    # xxhash64 spreads uniformly; allow modest slack over the exact cap
    assert worst <= int(cap * 1.5), worst
    # and salting must only ever split blocks, never lose a doc-key
    assert salted.count() == keys.count()


def test_suffix_blocking_catches_prefix_typos(spark):
    from sneaky_data_matcher_spark.operators.blocking import suffix_blocking_keys

    canon = spark.createDataFrame(
        [
            (1, "jonathan smith"),
            (2, "johnathan smith"),
            (3, "xyz other"),
        ],
        "doc_id long, doc_text string",
    )
    keyed = suffix_blocking_keys(canon, min_len=4, max_block=50)
    by_key: dict[str, set] = {}
    for r in keyed.collect():
        by_key.setdefault(r["block_key"], set()).add(r["doc_id"])
    # prefix passes miss this pair; the shared suffix blocks them together
    assert by_key.get("nathan") == {1, 2}
    assert all(len(v) <= 50 for v in by_key.values())


def test_suffix_blocking_frequency_cap(spark):
    from sneaky_data_matcher_spark.operators.blocking import suffix_blocking_keys

    canon = spark.createDataFrame(
        [(i, "aaaa common") for i in range(60)] + [(100, "bbbb x"), (101, "bbbb y")],
        "doc_id long, doc_text string",
    )
    keyed = suffix_blocking_keys(canon, min_len=4, max_block=50)
    keys = {r["block_key"] for r in keyed.collect()}
    assert "aaaa" not in keys  # 60 docs > cap
    assert "bbbb" in keys


def _adaptive_oracle(rows, num=1, den=2, max_segment=50):
    """Single-node reference for adaptive_snm_pairs: sort, cut at
    dissimilar adjacent keys, sub-split, all within-segment pairs."""
    try:
        from rapidfuzz.distance import Levenshtein  # pragma: no cover

        lev = Levenshtein.distance
    except ImportError:
        def lev(a, b):
            m, n = len(a), len(b)
            prev = list(range(n + 1))
            for i in range(1, m + 1):
                cur = [i] + [0] * n
                for j in range(1, n + 1):
                    cur[j] = min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (a[i - 1] != b[j - 1]),
                    )
                prev = cur
            return prev[n]

    rows = sorted(rows)  # (snk, doc_id)
    segs, cur = [], []
    for i, (k, d) in enumerate(rows):
        if i == 0:
            cur = [(k, d)]
            continue
        pk = rows[i - 1][0]
        if lev(pk, k) * den >= max(len(pk), len(k)) * num:
            segs.append(cur)
            cur = [(k, d)]
        else:
            cur.append((k, d))
    if cur:
        segs.append(cur)
    want = set()
    for s in segs:
        for start in range(0, len(s), max_segment):
            chunk = s[start:start + max_segment]
            for i in range(len(chunk)):
                for j in range(i + 1, len(chunk)):
                    a, b = sorted((chunk[i][1], chunk[j][1]))
                    want.add((a, b))
    return want


def test_adaptive_snm_matches_single_node_oracle(spark, synth_corpus):
    """Adaptive SNM vs a single-node boundary-cut oracle, including a
    sub-split stress (max_segment=3 forces splits inside duplicate runs).
    The range partitioning is left to Spark, which coalesces this corpus
    into one partition; test_running_sum_matches_python_cumsum crosses
    the partition seams of the rank and the segment sum."""
    canon = _canon(synth_corpus)
    rows = [
        (r["doc_text"], r["doc_id"]) for r in canon.collect() if r["doc_text"]
    ]
    for max_seg in (50, 3):
        want = _adaptive_oracle(rows, max_segment=max_seg)
        got = {
            (r["doc_id_a"], r["doc_id_b"])
            for r in blocking.adaptive_snm_pairs(
                canon, max_segment=max_seg
            ).collect()
        }
        assert got == want, f"max_segment={max_seg}"


def test_adaptive_snm_dense_run_beats_fixed_window(spark):
    """A run of 8 near-identical keys must form ONE segment (all 28
    pairs), where window=5 SNM would miss the far pairs."""
    docs = [(f"d{i}", f"acme corp {i % 2}", []) for i in range(8)]
    docs += [("x1", "zzz totally different", []), ("x2", "qqq unrelated", [])]
    canon = spark.createDataFrame(
        docs, "doc_id string, doc_text string, media_refs array<string>"
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in blocking.adaptive_snm_pairs(canon).collect()
    }
    dense = {d for p in got for d in p if d.startswith("d")}
    assert dense == {f"d{i}" for i in range(8)}
    assert len([p for p in got if p[0].startswith("d")]) == 28
    assert not any("x1" in p or "x2" in p for p in got)
