"""Meta-blocking — weight the blocking graph, prune low-evidence
comparisons before any pair is scored.

Multi-pass blocking (operators/blocking.py) is recall-oriented: a pair
sharing ANY key is a candidate. At 10^12 docs the resulting comparison
set is dominated by pairs that co-occur in exactly one weak block.
Meta-blocking (Papadakis et al., TKDE 2014 — public literature) treats
blocks as evidence: pairs are edges weighted by HOW MUCH blocking
evidence they share, and edges below a data-derived threshold are
pruned before the expensive scoring join.

Weighting schemes implemented (both from the paper's canonical set):
  CBS  — common-blocks: number of (pass, block_key) the pair shares.
  ECBS-like Jaccard — cbs / (|blocks(a)| + |blocks(b)| - cbs),
         normalizing away prolific documents.

Pruning schemes:
  WEP — weighted edge pruning: keep edges with weight >= the GLOBAL
        mean weight.
  WNP — weighted node pruning: keep edges whose weight >= the local
        mean weight of EITHER endpoint (node-centric; strictly higher
        recall than WEP at the same weight function).

Scale notes (100 TB):
  - `block_purge` drops degenerate blocks OUTRIGHT (stop-word keys):
    census + broadcast anti-join of the (rare) hot slice, mirroring
    salt_keys' broadcast strategy. Purging bounds the self-join below.
  - the edge build shuffles (pass, block_key) once for the self-join
    and (doc_id_a, doc_id_b) once for the CBS count — both map-side
    combinable. Only bare ids and ints travel.
  - WEP's threshold is ONE scalar (computed as an exact long ratio —
    sum(cbs)/count, no float-sum nondeterminism) broadcast into the
    filter; WNP's per-node means are exact long pairs, shuffled once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .blocking import _hot_slice
from .ordered import running_sum


def block_purge(keys: DataFrame, max_block_size: int) -> DataFrame:
    """Drop blocks larger than `max_block_size` entirely (classic block
    purging: such keys are stop-words — their pair mass is quadratic
    noise). A LEFT ANTI join of salt_keys' hot slice (blocking._hot_slice:
    broadcast, or a shuffle anti-join if the slice is degenerate-huge)."""
    hot = _hot_slice(keys, max_block_size)
    return keys.join(hot, ["pass", "block_key"], "left_anti")


def block_filter(keys: DataFrame, num: int = 1, den: int = 2) -> DataFrame:
    """Block Filtering (Papadakis et al., "Comparison-Based Blocking"
    line of work, VLDB 2016): each record keeps only its
    ceil(num/den * |blocks(record)|) SMALLEST blocks — small blocks are
    the highest-precision evidence, and dropping a record from a huge
    block removes a full row of that block's quadratic comparison mass
    while the record stays reachable through its small blocks.

    Complements block_purge: purging drops stop-word blocks outright
    (global decision), filtering trims each RECORD's participation
    (local decision) and keeps partial evidence from mid-size blocks.

    Determinism/parity: blocks rank per record by (size asc, pass,
    block_key) — a total order — and the keep bound is the exact integer
    ceil via cross-multiplication ((rank-1)*den < nb*num), so no float
    threshold can disagree between engines.

    Scale shape: one block census (map-side combinable), one join of the
    census onto keys (shuffle on (pass, block_key)), one per-record
    window (shuffle on doc_id; a record holds only a handful of keys, so
    partitions stay balanced)."""
    census = keys.groupBy("pass", "block_key").agg(F.count("*").alias("sz"))
    k = keys.join(census, ["pass", "block_key"])
    w = Window.partitionBy("doc_id").orderBy("sz", "pass", "block_key")
    wc = Window.partitionBy("doc_id")
    return (
        k.withColumn("rn", F.row_number().over(w))
        .withColumn("nb", F.count("*").over(wc))
        .where((F.col("rn") - 1) * den < F.col("nb") * num)
        .select("doc_id", "pass", "block_key")
    )


def progressive_decile_recall(
    edges: DataFrame, matches: DataFrame, n_buckets: int = 10
) -> DataFrame:
    """Progressive ER (pay-as-you-go resolution, Whang et al. 2013):
    schedule comparisons best-evidence-first and report how much of the
    eventual match set each slice of the comparison budget recovers.

    Edges (from block_graph_edges) are ranked by blocking-evidence weight
    (jaccard desc, ids as tie-break) into `n_buckets` equal rank slices;
    output one row per bucket with cumulative pairs, cumulative true
    matches (pairs that the full scoring run accepts), and cumulative
    recall. A steep curve certifies the weight function: most matches
    surface in the first slices, so a budget-bound run can stop early.

    Scale shape: the global rank is ordered.running_sum of 1 over
    (jaccard desc, doc_id_a, doc_id_b) (no single-partition window);
    bucket ids are exact integer ceil(grank*k/n); the per-bucket rollup is
    k rows, and the final cumulative window runs on those k rows only."""
    ranked, n = running_sum(
        edges.select("doc_id_a", "doc_id_b", "jaccard"),
        [F.col("jaccard").desc(), "doc_id_a", "doc_id_b"],
        F.lit(1),
        "grank",
    )
    # denominator rides along lazily as a broadcast one-row aggregate
    # (same pattern as wep_prune) instead of an eager matches.count() at
    # plan-build time; recall is 0.0 when the match set is empty on BOTH
    # engines (Spark NULL vs DuckDB inf otherwise — ADVICE r3), and the
    # quotient is UNROUNDED (single IEEE division of exact longs).
    nm = matches.agg(F.count("*").alias("total_matches"))
    tagged = ranked.join(
        matches.select("doc_id_a", "doc_id_b").withColumn("_m", F.lit(1)),
        ["doc_id_a", "doc_id_b"],
        "left",
    ).select(
        F.expr(f"(grank * {n_buckets} + {n} - 1) div {n}").alias("bucket"),
        F.coalesce("_m", F.lit(0)).alias("is_match"),
    )
    per = tagged.groupBy("bucket").agg(
        F.count("*").alias("pairs"), F.sum("is_match").alias("m")
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per.crossJoin(F.broadcast(nm)).select(
        "bucket",
        F.sum("pairs").over(wcum).alias("cum_pairs"),
        F.sum("m").over(wcum).alias("cum_matches"),
        F.when(F.col("total_matches") == 0, F.lit(0.0))
        .otherwise(
            F.sum("m").over(wcum).cast("double")
            / F.col("total_matches").cast("double")
        )
        .alias("recall"),
    )


def block_graph_edges(keys: DataFrame) -> DataFrame:
    """keys(doc_id, pass, block_key) -> weighted comparison edges
    (doc_id_a < doc_id_b, cbs, jaccard).

    cbs counts shared (pass, block_key) blocks; jaccard normalizes by
    the union of the two docs' block sets. Per-doc block counts are
    exact ints computed once pre-join, so jaccard is a single
    deterministic division — oracle-portable without rounding tricks.
    """
    per_doc = keys.groupBy("doc_id").agg(F.count("*").alias("nb"))
    a = keys.select("pass", "block_key", F.col("doc_id").alias("doc_id_a"))
    b = keys.select("pass", "block_key", F.col("doc_id").alias("doc_id_b"))
    cbs = (
        a.join(b, ["pass", "block_key"])
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("cbs"))
    )
    na = per_doc.select(F.col("doc_id").alias("doc_id_a"), F.col("nb").alias("nb_a"))
    nb = per_doc.select(F.col("doc_id").alias("doc_id_b"), F.col("nb").alias("nb_b"))
    return (
        cbs.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "cbs",
            (
                F.col("cbs").cast("double")
                / (F.col("nb_a") + F.col("nb_b") - F.col("cbs")).cast("double")
            ).alias("jaccard"),
        )
    )


def wep_prune(edges: DataFrame) -> DataFrame:
    """Weighted edge pruning on the CBS weight: keep edges with
    cbs >= mean(cbs). The mean is kept EXACT as the long pair
    (sum, count) and the comparison is cross-multiplied
    (cbs * n_edges >= cbs_sum) so no float summation order can flip the
    threshold between engines. One scalar aggregate, broadcast-joined
    into the filter."""
    stats = edges.agg(
        F.sum("cbs").alias("cbs_sum"), F.count("*").alias("n_edges")
    )
    return (
        edges.crossJoin(F.broadcast(stats))
        .where(F.col("cbs") * F.col("n_edges") >= F.col("cbs_sum"))
        .select("doc_id_a", "doc_id_b", "cbs", "jaccard")
    )


def wnp_prune(edges: DataFrame) -> DataFrame:
    """Weighted node pruning: keep an edge iff its cbs >= the mean cbs
    of edges incident to a-side OR to b-side. Per-node means stay exact
    long pairs; comparisons cross-multiply. Two shuffles (orientation
    union groupBy + join back), bare ids and longs only."""
    incident = (
        edges.select(F.col("doc_id_a").alias("doc_id"), "cbs")
        .unionByName(edges.select(F.col("doc_id_b").alias("doc_id"), "cbs"))
        .groupBy("doc_id")
        .agg(F.sum("cbs").alias("s"), F.count("*").alias("n"))
    )
    sa = incident.select(
        F.col("doc_id").alias("doc_id_a"), F.col("s").alias("s_a"), F.col("n").alias("n_a")
    )
    sb = incident.select(
        F.col("doc_id").alias("doc_id_b"), F.col("s").alias("s_b"), F.col("n").alias("n_b")
    )
    return (
        edges.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .where(
            (F.col("cbs") * F.col("n_a") >= F.col("s_a"))
            | (F.col("cbs") * F.col("n_b") >= F.col("s_b"))
        )
        .select("doc_id_a", "doc_id_b", "cbs", "jaccard")
    )
