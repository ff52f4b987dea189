"""Candidate-pair similarity scoring — vectorized, threshold to matches.

Generalizes the reference's exact-equality probe match
(services/SearchService.java:165, LIMIT-1 EQUALS lookups) to threshold
similarity over candidate pairs:

  score = w_jw * JaroWinkler(text_a, text_b)          (pandas UDF, Arrow)
        + w_lev * (1 - lev/maxlen)                    (native codegen)
        + w_tok * token-set Jaccard                   (native array ops)
        + w_med * exact media_ref agreement           (native array ops)

Scale notes:
  - pairs ⋈ payload twice (sides a and b) — two shuffle hash joins on
    doc_id; at warehouse scale bucket the canonical docs table by doc_id to
    make these co-located. The joined frame carries only (ids, prefix,
    token set, media) — spans and full text never travel through scoring.
  - the one Python-adjacent kernel (Jaro-Winkler) runs per Arrow batch
    inside DuckDB's vectorized C++ implementation; everything else is
    whole-stage-codegen'd.

This is the only scorer: the streaming topology
(streaming.incremental.streaming_er_topology) decodes each micro-batch's
pairs into attach_payload's columns and scores them with score_pairs_fused.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import jaro_winkler, levenshtein_ratio

DEFAULT_WEIGHTS = {"jw": 0.4, "lev": 0.2, "tok": 0.3, "med": 0.1}
DEFAULT_THRESHOLD = 0.62
# Edit-distance kernels are O(len_a * len_b) per pair — unbounded doc text
# would make pair cost quadratic in document size at 100 TB. Cap the
# compared prefix (canonical text, so the prefix is stable); token-jaccard
# still sees the full token sets. 128 chars keeps the O(n²) cell count per
# pair at ~16k (measured: the levenshtein term dominates scoring wall-clock
# at 256 — halving the prefix quarters it) with no measurable F1 change on
# the labeled corpus (character evidence beyond ~25 tokens adds nothing the
# token-set term doesn't already capture).
DEFAULT_PREFIX_LEN = 128


def media_agreement(a: Column, b: Column) -> Column:
    """1.0 when the two docs share at least one media_ref; 0.5 when neither
    has media (no evidence either way); 0.0 on disjoint non-empty sets."""
    inter = F.size(F.array_intersect(a, b))
    both_empty = (F.size(a) == 0) & (F.size(b) == 0)
    return (
        F.when(inter > 0, F.lit(1.0))
        .when(both_empty, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )


def token_set_jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| over two distinct-token arrays; 1.0 when both are
    empty."""
    inter = F.size(F.array_intersect(a, b))
    un = F.size(F.array_union(a, b))
    return F.when(un == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / un.cast("double")
    )


def attach_payload(
    pairs: DataFrame, canon: DataFrame, prefix_len: int = DEFAULT_PREFIX_LEN
) -> DataFrame:
    """pairs(doc_id_a, doc_id_b) ⋈ scoring payload x2. The payload is the
    TRIMMED scoring inputs — the compared text prefix, the distinct token
    set, media_refs — not the full doc_text: on KB-size real-world
    documents that caps the per-pair shuffled bytes at prefix+tokens
    instead of the whole text (on short test docs it's byte-neutral).
    Payload is derived per DOC before the join, so the expensive split/
    distinct runs n_docs times, never n_pairs times."""
    pay = scoring_payload(canon, prefix_len)
    a = pay.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("pfx").alias("pfx_a"),
        F.col("toks").alias("toks_a"),
        F.col("media_refs").alias("media_refs_a"),
    )
    b = pay.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("pfx").alias("pfx_b"),
        F.col("toks").alias("toks_b"),
        F.col("media_refs").alias("media_refs_b"),
    )
    return pairs.join(a, "doc_id_a").join(b, "doc_id_b")


def scoring_payload(canon: DataFrame, prefix_len: int = DEFAULT_PREFIX_LEN) -> DataFrame:
    """Attach the scoring payload to canon: the compared text prefix and
    the distinct token set, computed once per DOC pre-shuffle (never per
    pair occurrence). Shared by attach_payload and the streaming topology
    (streaming.incremental.streaming_er_topology)."""
    return canon.withColumn(
        "pfx", F.substring(F.col("doc_text"), 1, prefix_len)
    ).withColumn("toks", F.array_distinct(F.split(F.col("doc_text"), " ")))


def score_pairs_fused(
    deduped_pairs: DataFrame,
    weights: dict[str, float] | None = None,
    band_threshold: float | None = None,
) -> DataFrame:
    """Map-side scorer over a payload-carrying pair frame (doc_id_a,
    doc_id_b, pfx_a, pfx_b, toks_a, toks_b, media_refs_a, media_refs_b) —
    the output shape of attach_payload.

    ``band_threshold`` turns on BANDED evaluation — the anatomy
    measurement (BENCH.md "scoring-stage anatomy") showed the stage is
    dominated by the native levenshtein term (17.4s of a 20.3s stage at
    1M pairs), not the Arrow jw kernel (1.5s) or the attach joins (1.5s).
    The cheap terms (token jaccard + media agreement) bound the full
    score from above by cheap + w_jw + w_lev; any pair whose bound is
    below the threshold (minus a 1e-9 ulp guard) cannot match, so the
    edit-distance work is skipped for it: the native levenshtein via a
    short-circuiting CASE, the extracted Arrow jw kernel via NULL-masked
    arguments (ArrowEvalPython runs for every row; see inline comment).
    89% of candidate pairs prune at threshold 0.85 -> the stage runs 3.7x
    faster with a PROVABLY identical match set and identical clusters
    (pytest-asserted).

    Contract under banding: rows at score >= band_threshold carry the
    exact full score and exact jw/lev_ratio; PRUNED rows carry the cheap
    partial score (< band_threshold by construction) and NULL jw/
    lev_ratio. Consumers that read below-threshold scores (review queues,
    histograms) must score with band_threshold at their own floor — or
    None for the classic full evaluation (the default)."""
    w = weights or DEFAULT_WEIGHTS
    full = (
        w["jw"] * F.col("jw")
        + w["lev"] * F.col("lev_ratio")
        + w["tok"] * F.col("tok_jaccard")
        + w["med"] * F.col("media_agree")
    )
    tok_jac = token_set_jaccard(F.col("toks_a"), F.col("toks_b"))
    med = media_agreement(F.col("media_refs_a"), F.col("media_refs_b"))
    jw_c = jaro_winkler(F.col("pfx_a"), F.col("pfx_b"))
    lev_c = levenshtein_ratio(F.col("pfx_a"), F.col("pfx_b"))
    base = deduped_pairs.withColumn("tok_jaccard", tok_jac).withColumn(
        "media_agree", med
    )
    if band_threshold is None:
        return base.select(
            "doc_id_a",
            "doc_id_b",
            jw_c.alias("jw"),
            lev_c.alias("lev_ratio"),
            "tok_jaccard",
            "media_agree",
        ).withColumn("score", full)
    # Sound upper bound: jw <= 1 and lev_ratio <= 1; the 1e-9 margin makes
    # pruning strictly conservative against float-order ulp noise, so the
    # match set is bit-identical to full evaluation.
    cheap = w["tok"] * F.col("tok_jaccard") + w["med"] * F.col("media_agree")
    prunable = cheap + F.lit(w["jw"] + w["lev"]) < F.lit(band_threshold - 1e-9)
    # The two kernels are skipped differently (verified in the formatted
    # plan — PLANS.md "banded scoring"):
    #   - levenshtein is a native codegen expression, so the CASE below
    #     genuinely short-circuits it per pruned row;
    #   - jaro_winkler is a pandas UDF: Catalyst EXTRACTS it into an
    #     ArrowEvalPython node that runs for EVERY row regardless of the
    #     CASE (conditional short-circuit does not reach extracted UDFs).
    #     So the UDF's *arguments* are masked to NULL on pruned rows —
    #     the batch kernel fillna's them to "" and jw("","") is O(1), so
    #     the edit-distance work is skipped there too, in one pass with
    #     no filter-split/union re-shuffle.
    jw_masked = jaro_winkler(
        F.when(~prunable, F.col("pfx_a")), F.when(~prunable, F.col("pfx_b"))
    )
    return base.withColumn(
        "jw", F.when(~prunable, jw_masked)
    ).withColumn(
        "lev_ratio", F.when(~prunable, lev_c)
    ).select(
        "doc_id_a",
        "doc_id_b",
        "jw",
        "lev_ratio",
        "tok_jaccard",
        "media_agree",
        F.when(F.col("jw").isNull(), cheap).otherwise(full).alias("score"),
    )


def matches(scored: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    return scored.where(F.col("score") >= threshold).select(
        "doc_id_a", "doc_id_b", "score"
    )
