"""Transitive clustering: connected components of the match graph.

The set-oriented generalization of the reference's join-by-shared-value
enrichment (repositories/SearchRepository.java:249-297): instead of merging
rows that share a column value one seed at a time (capped at maxJoinDepth),
we take the full match graph and compute connected components, assigning
every doc the min doc_id of its component.

Two paths, one contract (connected_components):
  - driver pass: a match graph of at most _DRIVER_MAX_EDGES edges is
    collected once as Arrow and clustered on the driver by a vectorized
    numpy union-find (_min_labels). Match graphs are sparse (a few edges
    per matched doc), so this covers every corpus the pipeline has run on.
  - star loop: a larger graph runs large-star / small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014) in its
    "optimized runs" schedule — O(log n) rounds of groupBy/join stages;
    proven convergent. Each iteration is localCheckpoint()ed to cut lineage
    (a driver-side fixpoint loop is the one thing Catalyst cannot express).

Scale notes for the star loop:
  - edge frames are (u, v) string pairs; every round shuffles on u — at
    10^12 docs this is the dominant shuffle, so rounds matter more than
    per-round constants; large/small-star's O(log n) rounds beat naive
    label propagation's O(diameter).
  - high-degree hubs (a celebrity doc matched by millions) are exactly what
    large-star handles: it re-attaches large neighbors to the min, splitting
    the star across partitions next round.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Largest match graph (edges after dropping NULL endpoints and self-loops)
# that connected_components clusters on the driver. A memory limit, not a
# speed crossover; measured on 4 vCPUs, local[4] (tools/bench_cc_schedule.py,
# BENCH.md "CC driver pass (4 vCPU)"). The driver pass beat the star loop
# at every size it completed, up to 1.96M edges (14.1 s against 30.6 s for
# the faster star arm). With a 2 GB driver heap (the benchmark's) and
# 45-character ids it passed at 1.96M edges and ran out of heap in its
# single collect partition at 3.9M; the bound is half the largest graph
# that passed there. At 982k such edges the pass held 382 MB of driver
# Python memory and a 92 MB Arrow result.
_DRIVER_MAX_EDGES = 1_000_000


def _min_labels(cu: np.ndarray, cv: np.ndarray, n: int) -> np.ndarray:
    """Union-find over int codes 0..n-1 joined by edges (cu[i], cv[i]):
    returns, for every code, the minimum code of its component.

    Vectorized hook-and-compress: each round hooks every root onto the
    smallest root it shares an edge with (np.minimum.at), then jumps every
    pointer to its root. Pointers only ever decrease, so the forest stays
    acyclic and each root is its tree's minimum. A root with an edge to
    another tree either hooks or is hooked onto, so the trees of a
    component at least halve per round: O(log V) rounds of whole-array
    operations, no per-edge Python loop."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        ru, rv = parent[cu], parent[cv]
        cross = ru != rv
        if not cross.any():
            return parent
        # an edge inside one tree stays inside it: drop it for good
        cu, cv, ru, rv = cu[cross], cv[cross], ru[cross], rv[cross]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _components(u, v) -> tuple[np.ndarray, np.ndarray]:
    """Edge endpoint arrays -> (ids, component-minimum index per id).

    ids are the sorted distinct endpoints; factorize(sort=True) makes the
    minimum code the minimum id (Python's string order is code-point order,
    the same as Spark's UTF-8 byte order). Endpoints must not be NULL."""
    codes, ids = pd.factorize(np.concatenate([u, v]), sort=True)
    return np.asarray(ids), _min_labels(codes[: len(u)], codes[len(u):], len(ids))


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions, self-loops dropped."""
    e = edges.select(F.col("u"), F.col("v"))
    return (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    nbrs = _sym(edges)
    m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges small->large: for each u over neighbors v <= u:
    m = min(N ∪ {u}); emit (v, m) for v in N plus (u, m)."""
    nbrs = _sym(edges).where(F.col("v") < F.col("u"))
    m = nbrs.groupBy("u").agg(F.min("v").alias("m"))
    attach = nbrs.join(m, "u")
    out = attach.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        attach.select(F.col("u"), F.col("m").alias("v")).distinct()
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _contract_partitions(edges: DataFrame) -> DataFrame:
    """Partition-local union-find contraction: within each partition,
    replace its edge multiset by the star (node -> local component
    minimum). Connectivity is exactly preserved — two nodes connected
    through edges of one partition become connected through its star, and
    nodes shared across partitions glue the local stars back together in
    the global loop — while the per-partition edge count drops from |E_p|
    to at most |V_p| - 1.

    Why this matters at 100 TB: candidate pairs are GENERATED per block
    inside one partition, so a dense block of k members contributes
    k(k-1)/2 pair rows that all sit in the same map partition. Contracting
    BEFORE the first shuffle collapses that to k-1 rows — the initial
    distinct() and every large/small-star round then shuffle the
    contracted edge set. This is the standard local-aggregation phase of
    two-phase MapReduce CC (cf. Kiveris et al. §5 "CC-MR style"
    pre-processing); it is a pure optimization with identical output
    (asserted in tests/test_clustering.py on path/random/pipeline graphs).

    Kernel shape: Arrow-batched mapInPandas running the driver pass's
    union-find (_components) once per partition. Local roots are the
    MINIMUM id in the local component, so the emitted edge set is a
    deterministic function of the partition's content."""
    # id dtype (string or integral) rides through untouched: factorize
    # codes drive the union-find, the ids keep the original values.
    schema = edges.select("u", "v").schema

    def fn(batches):
        batches = list(batches)
        if not batches:
            return
        ids, root = _components(
            np.concatenate([b["u"].to_numpy() for b in batches]),
            np.concatenate([b["v"].to_numpy() for b in batches]),
        )
        moved = root != np.arange(len(ids))
        if moved.any():
            yield pd.DataFrame({"u": ids[moved], "v": ids[root[moved]]})

    return edges.mapInPandas(fn, schema)


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        # bit_xor: order-insensitive, overflow-free (ANSI mode safe)
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def connected_components(
    matches: DataFrame,
    max_iterations: int = 25,
    pre_contract: bool = False,
    _stats: dict | None = None,
) -> DataFrame:
    """matches(doc_id_a, doc_id_b, ...) -> (doc_id, cluster_id).

    cluster_id = min doc_id of the component. Docs absent from `matches`
    are not emitted — cluster_nodes adds them as singleton clusters. Edges
    with a NULL endpoint are ignored, and so is a node whose only edges are
    self-loops.

    Driver pass: the edges are first collected with one bounded Arrow
    action (at most _DRIVER_MAX_EDGES + 1 rows). If they all came back,
    the components are computed on the driver (_components) and returned
    as a small local frame; the rest of this docstring is about the
    larger graphs, which go through the star loop.

    The star loop is Kiveris et al. §4's "optimized runs": repeat
    large-star until ITS OWN fixpoint, then one small-star, then repeat.
    Every step is localCheckpoint()ed, which bounds lineage; the loop runs
    under the caller's session settings and sets no session conf.

    pre_contract=True runs a partition-local union-find contraction
    (see _contract_partitions) on the raw match pairs BEFORE the star
    loop's first distinct() shuffle — identical output, and on
    block-generated pair sets (k members -> k(k-1)/2 co-located pairs) it
    shrinks both the initial shuffle and every star round to ~node-count
    volume. On a 4-vCPU local[4] session (tools/bench_cc_schedule.py
    20000, BENCH.md "CC under session settings") it ran 2.6x faster on the
    path graph (it also collapses diameter, 17 large-stars -> 4), 10%
    slower on the matcher shape and even on the dense shape. It acts only
    on graphs above the driver bound. Default False at the operator level
    so generic callers keep the minimal plan; the pipeline turns it on via
    PipelineConfig.cc_pre_contract.

    `_stats`, if passed, receives {"rounds", "large_stars",
    "small_stars"} for benchmarking; all three are 0 on the driver pass.
    """
    # `!=` is NULL when either endpoint is, so this drops NULL endpoints
    # and self-loops, as _sym does in the star loop; collecting non-NULL
    # ids also keeps Arrow -> numpy from turning nullable longs to float64.
    edges = matches.select(
        F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
    ).where(F.col("u") != F.col("v"))
    # The probe's job computes every partition of `edges` (and of a lazy
    # upstream such as blocking + scoring); checkpointing stores them, so
    # the star loop reads them back instead of running the upstream again.
    edges = edges.localCheckpoint(eager=False)
    stats = {"rounds": 0, "large_stars": 0, "small_stars": 0}
    table = edges.limit(_DRIVER_MAX_EDGES + 1).toArrow()
    if table.num_rows <= _DRIVER_MAX_EDGES:
        if _stats is not None:
            _stats.update(stats)
        ids, root = _components(
            table.column("u").to_numpy(), table.column("v").to_numpy()
        )
        # _sym's union gives the id type the star loop's output would have
        return matches.sparkSession.createDataFrame(
            pd.DataFrame({"u": ids, "v": ids[root]}), _sym(edges).schema
        ).toDF("doc_id", "cluster_id")
    if pre_contract:
        edges = _contract_partitions(edges)
    edges = edges.distinct().localCheckpoint(eager=True)
    prev = _edge_checksum(edges)
    for _ in range(max_iterations):
        stats["rounds"] += 1
        ls_prev = prev
        for _ in range(max_iterations):
            edges = _large_star(edges).localCheckpoint(eager=True)
            stats["large_stars"] += 1
            cur = _edge_checksum(edges)
            if cur == ls_prev:
                break
            ls_prev = cur
        edges = _small_star(edges).localCheckpoint(eager=True)
        stats["small_stars"] += 1
        cur = _edge_checksum(edges)
        if cur == prev:
            break
        prev = cur
    if _stats is not None:
        _stats.update(stats)
    # Fixpoint: every edge is (node, root). Emit both node->root and
    # root->root so component representatives appear in the output.
    assign = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    return (
        assign.unionByName(roots)
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def cluster_nodes(
    nodes: DataFrame,
    matches: DataFrame,
    max_iterations: int = 25,
    pre_contract: bool = False,
) -> DataFrame:
    """nodes(doc_id, ...) + matches(doc_id_a, doc_id_b, ...) ->
    (doc_id, cluster_id) for every node: the min doc_id of its component
    (connected_components), or its own doc_id when no match touches it."""
    comp = connected_components(matches, max_iterations, pre_contract=pre_contract)
    return (
        nodes.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def refine_clusters(
    assign: DataFrame,
    scored_pairs: DataFrame,
    score,
    max_size: int,
    strict_threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Split over-merged clusters: any cluster larger than ``max_size``
    is re-clustered using only edges whose ``score`` (a Column over
    ``scored_pairs``) is >= ``strict_threshold``; smaller clusters pass
    through untouched.

    Over-merging is the classic transitive-closure failure mode — one
    borderline pair chains two real entities into a single component. The
    standard production fix is exactly this two-tier scheme (loose
    threshold to recall candidates, strict threshold to re-cut the big
    components), cf. Dedoop/Magellan post-processing.

    Scale notes (100 TB):
      - the oversized-cluster id frame is tiny (clusters > max_size are
        rare by construction) and is BROADCAST to both the membership
        filter and the edge filter — no extra shuffle over the full
        assignment or edge set beyond the two semi-joins.
      - the re-clustering CC runs ONLY on the strong subgraph of the big
        clusters' members (bounded by member count, not corpus size).
      - labels stay min-member-id on both paths, so refined sub-cluster
        ids never collide with pass-through cluster ids (a pass-through
        label is the min over a SUPERSET of any refined sub-cluster).
    """
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("_n"))
    big = sizes.where(F.col("_n") > max_size).select("cluster_id")
    bigm = assign.join(F.broadcast(big), "cluster_id").select(id_col)

    strong = scored_pairs.where(score >= strict_threshold).select(
        "doc_id_a", "doc_id_b"
    )
    strong = strong.join(
        F.broadcast(bigm.select(F.col(id_col).alias("doc_id_a"))),
        "doc_id_a",
        "left_semi",
    ).join(
        F.broadcast(bigm.select(F.col(id_col).alias("doc_id_b"))),
        "doc_id_b",
        "left_semi",
    )
    refined = cluster_nodes(
        bigm.withColumnRenamed(id_col, "doc_id"), strong
    ).withColumnRenamed("doc_id", id_col)
    keep = assign.join(F.broadcast(big), "cluster_id", "left_anti")
    return keep.select(id_col, "cluster_id").unionByName(refined)


def golden_records(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "doc_text",
    numeric_ids: bool = True,
) -> DataFrame:
    """Survivorship: pick one canonical record per entity cluster.

    The reference stops at cluster assignment (the enrichment join merges
    rows but never elects a representative); a production ER pipeline
    needs the "golden record" — here: the member with the LONGEST
    canonical text (most information), ties broken by smallest doc_id
    (deterministic).

    Scale notes: a single groupBy with map-side combine — the per-group
    state is one (len, id, text) struct, so the combiner reduces each
    cluster to one row per input partition before the shuffle. No window
    (a window over cluster_id would sort whole partitions and cannot
    partial-aggregate). `numeric_ids=True` packs the tie-break into one
    max(struct) via id negation; for string ids the fallback is a two-agg
    join (max len per cluster, then min id among the maximal members).
    """
    j = clusters.select(F.col(id_col).alias("doc_id"), "cluster_id").join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
        ),
        "doc_id",
    )
    if numeric_ids:
        best = j.groupBy("cluster_id").agg(
            F.count("*").alias("n_members"),
            F.max(
                F.struct(
                    F.length("_text").alias("text_len"),
                    (-F.col("doc_id")).alias("neg_id"),
                    F.col("_text").alias("text"),
                )
            ).alias("best"),
        )
        return best.select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("rep_doc_id"),
            F.col("best.text_len").alias("rep_text_len"),
            F.col("best.text").alias("rep_text"),
            "n_members",
        )
    lens = j.select("cluster_id", "doc_id", F.length("_text").alias("text_len"), "_text")
    agg1 = lens.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"), F.max("text_len").alias("rep_text_len")
    )
    maximal = lens.join(agg1, "cluster_id").where(
        F.col("text_len") == F.col("rep_text_len")
    )
    return (
        maximal.groupBy("cluster_id", "n_members", "rep_text_len")
        .agg(F.min(F.struct("doc_id", "_text")).alias("best"))
        .select(
            "cluster_id",
            F.col("best.doc_id").alias("rep_doc_id"),
            "rep_text_len",
            F.col("best._text").alias("rep_text"),
            "n_members",
        )
    )


def _source_priority(source: Column) -> Column:
    """Numeric priority of a 'src<digits>' id: the digits as int64, or a
    large sentinel for any other shape (so unparseable sources lose to
    every parseable one, ties broken by the source string). Bounded to 18
    digits so the cast can never overflow — the previous fixed
    substring(4,10)+cast parse silently mis-ranked long or non-numeric
    suffixes and diverged from the SQL twin."""
    digits = F.regexp_extract(source, r"^src(\d{1,18})$", 1)
    return F.when(digits != "", digits.cast("long")).otherwise(
        F.lit(4611686018427387904)
    )


def golden_fields(clusters: DataFrame, docs: DataFrame) -> DataFrame:
    """Field-level survivorship: compose the golden record from DIFFERENT
    members per attribute, each by its own rule — longest text for the
    representative, modal language (ties -> lexicographically smallest),
    highest-priority source (lowest numeric suffix). golden_records picks
    ONE member; real MDM picks per FIELD.

    One groupBy per rule, all max/min(struct) aggregations (map-side
    combinable — no windows, so a 100-million-member cluster still
    partial-aggregates before the shuffle); the modal-language rule needs
    a pre-count, so it is its own two-stage aggregation.
    """
    j = clusters.join(docs, "doc_id")
    rep = j.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(
                F.length("doc_text").alias("l"),
                (-F.col("doc_id")).alias("nid"),
                F.col("doc_text").alias("t"),
            )
        ).alias("r"),
        F.min(
            F.struct(
                _source_priority(F.col("source")).alias("pri"),
                F.col("source").alias("s"),
            )
        ).alias("src"),
    )
    lang_counts = j.groupBy("cluster_id", "lang").agg(F.count("*").alias("n"))
    modal = (
        lang_counts.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("lang").alias("lg"))
            ).alias("m")
        )
        .select("cluster_id", F.col("m.lg").alias("modal_lang"))
    )
    return rep.join(modal, "cluster_id").select(
        "cluster_id",
        "n_members",
        F.col("r.t").alias("rep_text"),
        "modal_lang",
        F.col("src.s").alias("best_source"),
    )


def lpa_communities(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 3,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    node_col: str = "doc_id",
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007),
    made fully deterministic: every round, each node adopts the MOST
    FREQUENT label among its neighbors, ties broken by the SMALLEST
    label; isolated (or neighbor-less this round) nodes keep their label.
    Fixed `rounds` with synchronous updates — no asynchronous order
    dependence, so the result is a pure function of the graph and is
    SQL-replayable round by round.

    vs connected_components: CC merges everything reachable (a single
    weak bridge glues two communities); LPA needs a label to WIN a local
    majority, so dense subgraphs connected by a thin bridge keep distinct
    communities — the cluster-splitting view of the same match graph
    (complements edge_support-based repair, which edits edges instead).

    Scale shape: per round one equi-join (labels onto the symmetric edge
    list, shuffle on node), one groupBy(node, label) with map-side
    combine, one per-node window argmax — all bounded by E; rounds is a
    small constant. Labels never leave the node-id domain, so the frame
    stays (node, label) longs end to end."""
    from pyspark.sql import Window

    sym = edges.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).unionByName(edges.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        nb = (
            sym.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        best = (
            nb.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node", F.coalesce("new_label", "label").alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("node").alias(node_col), F.col("label").alias("community")
    )


def lpa_sql_ctes(
    sym_rel: str, nodes_rel: str, rounds: int = 3, node_col: str = "doc_id"
) -> str:
    """DuckDB twin: the same synchronous rounds unrolled into CTEs; final
    relation `lpa_final` has (node, label). `sym_rel` must hold the
    SYMMETRIC edge list as (u, v); `nodes_rel` one row per node."""
    parts = [
        f"lpa_l0 AS (SELECT {node_col} AS node, {node_col} AS label FROM {nodes_rel})"
    ]
    prev = "lpa_l0"
    for r in range(1, rounds + 1):
        parts.append(
            f"lpa_nb{r} AS (SELECT s.v AS node, l.label, count(*) AS cnt "
            f"FROM {sym_rel} s JOIN {prev} l ON s.u = l.node GROUP BY s.v, l.label), "
            f"lpa_b{r} AS (SELECT node, label AS new_label FROM (SELECT node, label, "
            "row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn "
            f"FROM lpa_nb{r}) WHERE rn = 1), "
            f"lpa_l{r} AS (SELECT p.node, coalesce(b.new_label, p.label) AS label "
            f"FROM {prev} p LEFT JOIN lpa_b{r} b USING (node))"
        )
        prev = f"lpa_l{r}"
    parts.append(f"lpa_final AS (SELECT node, label FROM {prev})")
    return ", ".join(parts)
