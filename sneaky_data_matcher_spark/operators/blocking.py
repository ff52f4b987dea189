"""Multi-pass blocking with salted hot-block defusal.

Generalizes the reference's per-column exact-match index lookup
(repositories/IndexManager.java:29-38 + SearchService.java:165 probe
EQUALS) into scalable candidate generation: several independent blocking-key
passes (positional token prefixes, sorted-token neighborhood keys, exact
media_ref buckets), a block-size census, and deterministic salting of
over-sized blocks BEFORE pair generation so the O(n²) within-block pair
explosion is bounded (AQE skew-join alone cannot help — it splits shuffle
partitions, not the quadratic pair count).

Scale notes (100 TB / 10^12 docs):
  - keys frame is long-format (doc_id, pass, block_key): one shuffle on
    block_key for the census, one for the self-join. Both are map-side
    combinable aggregations / equi-joins Catalyst handles natively.
  - salting may only DROP cross-salt pairs within a hot block; recall is
    preserved by the *multi-pass* design — a true duplicate pair that loses
    its shared hot key still meets under its other keys (sorted-token pass,
    media pass). The skew test asserts cluster-output equivalence.
  - pair dedup across passes is a `distinct` on (a, b) — one shuffle,
    map-side partial dedup applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ordered import running_sum

# Defaults chosen so a block never yields more than ~max_block_size * cap
# pairs per member; production values are config, these are sane for tests.
DEFAULT_MAX_BLOCK_SIZE = 50


def blocking_keys(
    canon: DataFrame,
    prefix_tokens: int = 2,
    prefix_chars: int = 4,
    sorted_tokens: int = 3,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """canon(doc_id, doc_text, media_refs) -> (doc_id, pass, block_key).

    `payload_cols` optionally carries extra canon columns on every key row
    (the streaming topology ships its scoring payload through block state
    this way — see streaming.incremental.streaming_er_topology).

    Pass A 'pfx': first `prefix_tokens` tokens, `prefix_chars` chars each —
          positional prefix key (sorted-neighborhood flavor on leading text).
    Pass B 'srt': smallest `sorted_tokens` of the distinct token set —
          robust to token reorder and to leading-token typos.
    Pass C 'med': one key per media_ref — exact shared-asset blocking.

    doc_text is NRM'd (single-spaced, no blank tokens) so a plain split
    suffices — no regex, no filter lambda.
    """
    toks = F.split(F.col("doc_text"), " ")
    toks_sorted = F.array_sort(F.array_distinct(toks))
    pfx_key = F.concat(
        F.lit("pfx:"),
        F.array_join(
            F.transform(
                F.slice(toks, 1, prefix_tokens),
                lambda t: F.substring(t, 1, prefix_chars),
            ),
            "_",
        ),
    )
    srt_key = F.concat(
        F.lit("srt:"),
        F.array_join(F.slice(toks_sorted, 1, sorted_tokens), "_"),
    )
    payload = list(payload_cols or [])
    text_keys = canon.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("pfx").alias("pass"), pfx_key.alias("block_key")),
                F.struct(F.lit("srt").alias("pass"), srt_key.alias("block_key")),
            )
        ).alias("k"),
        *payload,
    ).select(
        "doc_id",
        F.col("k.pass").alias("pass"),
        F.col("k.block_key").alias("block_key"),
        *payload,
    )
    media_keys = canon.select(
        "doc_id",
        F.lit("med").alias("pass"),
        F.explode("media_refs").alias("block_key"),
        *payload,
    )
    keys = text_keys.unionByName(media_keys)
    return keys.where(
        F.col("block_key").isNotNull()
        & (F.col("block_key") != "")
        & (F.col("block_key") != "pfx:")
        & (F.col("block_key") != "srt:")
    )


def sorted_neighborhood_pairs(
    canon: DataFrame,
    window: int = 5,
    sort_key=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Classic sorted-neighborhood blocking (SURVEY.md §4 custom tactic 2):
    globally sort docs by a key, slide a ``window``-row window, emit every
    pair co-resident in some window -> distinct (doc_id_a < doc_id_b).

    Spark-first shape with an EXACT global rank and no single reducer: the
    rank is ordered.running_sum of 1 over (key, doc_id), with
    ``num_partitions`` range partitions. Pairs within ``window`` of each
    other in global rank necessarily land in the same or adjacent
    ``window``-sized rank buckets, so a bucket/bucket+1 self-join finds
    exactly the sliding-window pairs — partition seams and empty/short
    partitions included (tests force multi-partition runs).
    """
    key = sort_key if sort_key is not None else F.col("doc_text")
    base = canon.select("doc_id", key.alias("snk")).where(
        F.col("snk").isNotNull() & (F.col("snk") != "")
    )
    g, _ = running_sum(base, ["snk", "doc_id"], F.lit(1), "grank", num_partitions)
    bucket = F.floor((F.col("grank") - 1) / window)
    left = g.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("grank").alias("grank_a"),
        bucket.alias("bk"),
    )
    right = g.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("grank").alias("grank_b"),
        F.explode(F.array(bucket, bucket - 1)).alias("bk"),
    )
    pairs = (
        left.join(right, "bk")
        .where(
            (F.col("grank_b") > F.col("grank_a"))
            & (F.col("grank_b") - F.col("grank_a") < window)
        )
        .select(
            F.least("doc_id_a", "doc_id_b").alias("doc_id_a"),
            F.greatest("doc_id_a", "doc_id_b").alias("doc_id_b"),
        )
    )
    return pairs.distinct()


def adaptive_snm_pairs(
    canon: DataFrame,
    num: int = 1,
    den: int = 2,
    max_segment: int = 50,
    sort_key=None,
) -> DataFrame:
    """Adaptive sorted neighborhood (Yan et al., "Adaptive Sorted
    Neighborhood Methods", 2007 — boundary-detection variant): instead of
    a FIXED window over the sort order, cut the sorted sequence wherever
    two ADJACENT sort keys are dissimilar, and emit all pairs within each
    resulting segment. Dense duplicate runs become one segment regardless
    of length (a fixed window would miss their far pairs); sparse regions
    collapse to singleton segments (a fixed window would compare them
    anyway).

    Boundary rule, exact in integers on both engines: a new segment
    starts at row b (sort-adjacent after a) iff
    ``levenshtein(key_a, key_b) * den >= greatest(len_a, len_b) * num``
    — normalized edit distance >= num/den. Oversized segments are
    sub-split every ``max_segment`` rows (deterministic: row order within
    a segment is the global sort order), bounding the quadratic pair mass
    of any one segment exactly like max_block_size bounds hash blocks.

    Scale shape: one global rank and one segment id, both
    ordered.running_sum (of 1 over (key, doc_id), then of the 0/1 boundary
    flags over the rank; nothing wide crosses a shuffle), one
    rank-adjacent equi-join for the boundary flags, one window by segment
    for the sub-split, one (segment, sub) self-join for pairs. No
    single-partition window anywhere."""
    key = sort_key if sort_key is not None else F.col("doc_text")
    base = canon.select("doc_id", key.alias("snk")).where(
        F.col("snk").isNotNull() & (F.col("snk") != "")
    )
    ranked, _ = running_sum(base, ["snk", "doc_id"], F.lit(1), "grank")

    prev = ranked.select(
        (F.col("grank") + 1).alias("grank"),
        F.col("snk").alias("snk_prev"),
    )
    flagged = ranked.join(prev, "grank", "left").select(
        "doc_id",
        "grank",
        F.when(F.col("snk_prev").isNull(), F.lit(0))
        .when(
            F.levenshtein("snk_prev", "snk") * den
            >= F.greatest(F.length("snk_prev"), F.length("snk")) * num,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("flag"),
    )
    seg, _ = running_sum(flagged, ["grank"], F.col("flag"), "seg")

    sub = seg.withColumn(
        "sub",
        F.expr(f"(row_number() OVER (PARTITION BY seg ORDER BY grank) - 1) div {max_segment}"),
    )
    a = sub.select(
        F.col("doc_id").alias("ia"), "seg", "sub", F.col("grank").alias("ga")
    )
    b = sub.select(
        F.col("doc_id").alias("ib"), "seg", "sub", F.col("grank").alias("gb")
    )
    return (
        a.join(b, ["seg", "sub"])
        .where(F.col("gb") > F.col("ga"))
        .select(
            F.least("ia", "ib").alias("doc_id_a"),
            F.greatest("ia", "ib").alias("doc_id_b"),
        )
    )


def census_hot_blocks(keys: DataFrame, max_block_size: int) -> DataFrame:
    """Block-size census of a keys frame (pass, block_key, ...) -> the
    over-cap blocks as (pass, block_key, block_size, n_salts), with
    n_salts = ceil(block_size / max_block_size). Batch salt_keys and the
    stream's streaming.incremental.hot_block_census share it."""
    census = keys.groupBy("pass", "block_key").agg(F.count("*").alias("block_size"))
    return census.where(F.col("block_size") > max_block_size).withColumn(
        "n_salts", F.ceil(F.col("block_size") / F.lit(max_block_size)).cast("int")
    )


_HOT_BROADCAST_LIMIT = 1_000_000


def _hot_slice(keys: DataFrame, max_block_size: int) -> DataFrame:
    """census_hot_blocks pinned for a join against ``keys``: broadcast
    unless the slice is unexpectedly huge (> _HOT_BROADCAST_LIMIT rows —
    degenerate key choice), where the caller's join falls back to a
    shuffle rather than OOM the driver. Pinned so the count() and the
    join evaluate the census subtree once; released by the
    ContextCleaner on GC."""
    hot = census_hot_blocks(keys, max_block_size).localCheckpoint(eager=True)
    return F.broadcast(hot) if hot.count() <= _HOT_BROADCAST_LIMIT else hot


def salt_keys(
    keys: DataFrame, max_block_size: int = DEFAULT_MAX_BLOCK_SIZE
) -> DataFrame:
    """Census block sizes, split blocks over `max_block_size` into
    ceil(size/max_block_size) deterministic salted sub-blocks.

    Salt is pmod(xxhash64(doc_id), n_salts): content-independent, stable
    across runs (resumability), and uniform. Output adds (salt, n_salts,
    block_size) so downstream metrics can report hot-block handling.

    The census itself (groupBy on the bare key columns, map-side combined)
    is unavoidable, but only OVER-CAP blocks influence salting — and hot
    blocks are by construction rare (at most total_keys/cap of them, in
    practice a tiny skewed tail). So instead of shuffle-joining the full
    keys frame against the full census, broadcast just the hot slice and
    left-join map-side: cold keys (the overwhelming majority) never
    shuffle here at all (see _hot_slice).

    block_size is reported for hot blocks; cold blocks carry null (their
    size never mattered to salting — recover it from the census if a metric
    needs it).
    """
    hot = _hot_slice(keys, max_block_size)
    keyed = keys.join(hot, ["pass", "block_key"], "left")
    return keyed.withColumn("n_salts", F.coalesce("n_salts", F.lit(1))).withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.col("n_salts")).cast("int")
    )


def candidate_pairs(salted: DataFrame, cache: bool = True) -> DataFrame:
    """Self-join within (pass, block_key, salt) -> distinct (doc_id_a < doc_id_b).

    The explicit repartition on the salted block key is the 'salted
    repartitioning' of the north rule: it co-locates each sub-block in one
    shuffle partition sized by the salt cap, so no single task owns a hot
    block's quadratic work.

    cache=True pins the input, which feeds BOTH sides of the self-join
    (otherwise the keys -> census -> salt subtree evaluates twice). Pinned
    via lazy RDD-level localCheckpoint, NOT DataFrame.persist: the SQL
    CacheManager holds persisted frames strongly until an explicit
    unpersist, while local-checkpoint blocks are released by the
    ContextCleaner once the frame is garbage-collected — no per-call cache
    leak in long sessions. Callers issuing many independent small
    invocations (e.g. oracle queries) pass cache=False; at warehouse scale
    the salted frame is a committed stage table (plans/runs.py) instead.
    """
    cols = ["pass", "block_key", "salt"]
    if cache:
        salted = salted.localCheckpoint(eager=False)
    left = salted.select(*cols, F.col("doc_id").alias("doc_id_a")).repartition(*cols)
    right = salted.select(*cols, F.col("doc_id").alias("doc_id_b"))
    pairs = left.join(right, cols).where(F.col("doc_id_a") < F.col("doc_id_b"))
    return pairs.select("doc_id_a", "doc_id_b").distinct()


def suffix_blocking_keys(
    canon: DataFrame, min_len: int = 4, max_block: int = 50
) -> DataFrame:
    """Suffix-array blocking (Aizawa & Oyama '05): every suffix of the
    leading token with length >= ``min_len`` is a block key, and keys
    matching more than ``max_block`` docs are dropped (the frequency cap
    that keeps suffix blocking sub-quadratic). Catches prefix typos that
    the pfx pass misses ('jonathan' vs 'johnathan' share 'nathan').

    -> (doc_id, block_key) for surviving keys. One explode + one census
    groupBy + one semi join; suffix count per doc is bounded by token
    length, so the explode is O(len) per row — no skew beyond the key
    census, which the cap removes.
    """
    tok = F.split(F.col("doc_text"), " ")[0]
    # per-row varying substring start needs the SQL expr form (the
    # functions.substring API takes a literal start)
    keyed = (
        canon.select("doc_id", tok.alias("t"))
        .where(F.length("t") >= min_len)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(t) - {min_len} + 1), "
                    "i -> substring(t, i))"
                )
            ).alias("block_key"),
        )
        .distinct()
    )
    census = keyed.groupBy("block_key").agg(F.count("*").alias("n_docs"))
    keep = census.where(F.col("n_docs") <= max_block).select("block_key")
    return keyed.join(keep, "block_key", "left_semi")
