"""Batch-incremental entity resolution against committed golden records.

The north-star pipeline clusters a full corpus once; after that, new
document batches should NOT trigger a full re-cluster. This operator
matches a new batch against the committed entity table instead:

    new docs --blocking keys--> candidate (doc, entity) pairs
             --score vs golden rep_text--> best entity per doc
             --threshold--> assigned_cluster (or self = new entity)

Cost is proportional to the BATCH, not the corpus: the golden table is
scanned once for its blocking keys (in practice those are precomputed and
committed next to the entities), and only batch×candidate pairs are
scored. The corpus' raw text is never re-read. Complements
streaming/incremental.py's stream topology (which grows clusters
edge-by-edge); this is the set-batch flavor with a stable committed
entity side — reference parity: the reference re-runs its whole matcher
per upload (UploadService), it has no incremental path at all.

Scale notes: keys join is a blocked equi-join (shuffle bounded by key
groups); the scoring join ships rep_text only for CANDIDATE entities, not
the whole golden table; the final best-of window partitions by doc_id
(batch-sized). Skew: a hot block key fans out like any blocking pass —
reuse blocking.salt_keys on the key frames if a census flags one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import jaro_winkler, levenshtein_ratio
from .blocking import blocking_keys
from .scoring import token_set_jaccard

DEFAULT_THRESHOLD = 0.8


def _text_keys(canon: DataFrame) -> DataFrame:
    """pfx/srt blocking keys of a (doc_id, doc_text) frame (no media pass)."""
    framed = canon.select(
        "doc_id", "doc_text", F.array().cast("array<string>").alias("media_refs")
    )
    return blocking_keys(framed).where(F.col("pass") != "med")


def incremental_match(
    new_canon: DataFrame,
    golden: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """new_canon(doc_id, doc_text) × golden(cluster_id, rep_text) ->
    (doc_id, assigned_cluster, best_score, matched).

    assigned_cluster is the best-scoring candidate entity when its score
    clears `threshold`, else the doc's own id (a brand-new entity).
    best_score is NULL for docs with no blocking candidates at all. The
    score is the pipeline's SQL-portable formula (0.4*jw + 0.2*lev_ratio
    + 0.4*token-jaccard, jw rounded to 6), identical to er_matches'.
    """
    nkeys = _text_keys(new_canon)
    gkeys = _text_keys(
        golden.select(
            F.col("cluster_id").alias("doc_id"), F.col("rep_text").alias("doc_text")
        )
    ).select("pass", "block_key", F.col("doc_id").alias("cluster_id"))
    cand = (
        nkeys.join(gkeys, ["pass", "block_key"])
        .select("doc_id", "cluster_id")
        .distinct()
    )
    t = cand.join(
        new_canon.select("doc_id", F.col("doc_text").alias("ta")), "doc_id"
    ).join(
        golden.select("cluster_id", F.col("rep_text").alias("tb")), "cluster_id"
    )
    tok_jac = token_set_jaccard(
        F.array_distinct(F.split("ta", " ")), F.array_distinct(F.split("tb", " "))
    )
    score = F.round(
        0.4 * F.round(jaro_winkler(F.col("ta"), F.col("tb")), 6)
        + 0.2 * levenshtein_ratio(F.col("ta"), F.col("tb"))
        + 0.4 * tok_jac,
        6,
    )
    scored = t.select("doc_id", "cluster_id", score.alias("score"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cluster_id")
    best = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    out = new_canon.select("doc_id").join(best, "doc_id", "left")
    matched = F.coalesce(F.col("score") >= threshold, F.lit(False))
    return out.select(
        "doc_id",
        F.when(matched, F.col("cluster_id")).otherwise(F.col("doc_id")).alias(
            "assigned_cluster"
        ),
        F.col("score").alias("best_score"),
        matched.alias("matched"),
    )
