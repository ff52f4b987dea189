"""Byte-pair-encoding merge training over a document corpus.

The tokenizer-training step of an LLM data pipeline (Sennrich et al.
2016): start from characters (+ an end-of-word marker), repeatedly count
adjacent symbol pairs over the word census and merge the most frequent
pair, producing the ordered merge table that defines the tokenizer. The
reference has nothing like it; the brief's "token counting (BPE-ish
regex)" generalizes here to actually LEARNING the merges.

Distribution shape (the part that matters at 100 TB): everything after
the word census operates on the VOCABULARY (distinct words + counts),
never the corpus — exactly how production BPE trainers scale. Per round:
one explode+groupBy over vocab rows for the pair census (map-side
combined), a driver-side argmax of ONE row, and a vocab-sized projection
applying the merge. The corpus is touched once, by the census groupBy.

Merge application is a left-to-right fold: append each symbol, but when
the accumulator's last element is `l` and the incoming symbol is `r`,
replace the tail with the merged token — which reproduces BPE's
non-overlapping left-to-right merge semantics exactly (an odd run
"a a a" under (a,a) becomes [aa, a]). The same fold runs as Spark
``F.aggregate`` and DuckDB ``list_reduce``, so the oracle replays
training bit-for-bit; chars are code points on both engines (ASCII-safe;
multibyte parity bounded by substr/split conventions, as with
winnowing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_MARK = "</w>"


def word_census(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) census: lowercase whitespace tokens over the corpus.
    The one corpus-sized aggregation in BPE training."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _init_symbols(word: Column) -> Column:
    return F.concat(F.split(word, ""), F.array(F.lit(END_MARK)))


def _apply_merge(sym: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent (left, right)."""
    merged = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pair_census(vocab: DataFrame) -> DataFrame:
    pairs = F.arrays_zip(
        F.slice(F.col("sym"), 1, F.greatest(F.size("sym") - 1, F.lit(0))).alias("l"),
        F.slice(F.col("sym"), 2, F.greatest(F.size("sym") - 1, F.lit(0))).alias("r"),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "freq")
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "freq")
        .groupBy("l", "r")
        .agg(F.sum("freq").alias("pair_freq"))
    )


def bpe_train(
    docs: DataFrame, text_col: str = "text", n_merges: int = 8
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the ordered merge table
    (merge_rank, left_sym, right_sym, pair_freq). Argmax ties break
    deterministically by (freq desc, left asc, right asc). Stops early if
    no adjacent pair remains."""
    spark = docs.sparkSession
    vocab = word_census(docs, text_col).select(
        "freq", _init_symbols(F.col("word")).alias("sym")
    )
    # each round nests another fold into the projection — checkpoint per
    # round so plan depth stays O(1), not O(n_merges)
    vocab = vocab.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_census(vocab)
            .orderBy(F.col("pair_freq").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, fq = top[0]["l"], top[0]["r"], top[0]["pair_freq"]
        merges.append((rank, l, r, fq))
        vocab = vocab.select(
            "freq", _apply_merge(F.col("sym"), l, r).alias("sym")
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "merge_rank int, left_sym string, right_sym string, pair_freq long"
    )


def bpe_encode(
    df: DataFrame, word_col: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Tokenize ``word_col`` with a learned merge list (applied in rank
    order — the standard greedy encoder). Adds ``bpe_tokens``
    (array<string>). A pure projection: n_merges chained folds, no
    shuffle."""
    sym = _init_symbols(F.lower(F.col(word_col)))
    for l, r in merges:
        sym = _apply_merge(sym, l, r)
    return df.withColumn("bpe_tokens", sym)


# --- DuckDB twin -----------------------------------------------------------


def bpe_ctes(n_merges: int, text_source: str = "documents") -> str:
    """Unrolled-round training CTEs: word census ``w``, per-round vocab
    ``v0..v<n>`` (carrying word, freq, sym), per-round winning pair
    ``b1..b<n>``. Composable — bpe_train_sql selects the merge table,
    the fertility twin joins the final vocab."""
    ctes = [
        "w AS (SELECT t.word, count(*) AS freq FROM "
        f"(SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word FROM {text_source}) t "
        "GROUP BY t.word)",
        "v0 AS MATERIALIZED (SELECT word, freq, "
        "list_append(list_transform(range(1, length(word) + 1), i -> word[i:i]), '</w>') AS sym FROM w)",
    ]
    fold = (
        "list_reduce(list_prepend([], list_transform(v.sym, s -> [s])), "
        "(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r "
        "THEN list_append(acc[:len(acc)-1], b.l || b.r) "
        "ELSE list_concat(acc, x) END)"
    )
    for i in range(1, n_merges + 1):
        prev = f"v{i-1}"
        ctes.append(
            f"p{i} AS (SELECT sym[i] AS l, sym[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pair_freq "
            f"FROM {prev}, unnest(range(1, len(sym))) AS u(i) GROUP BY sym[i], sym[i+1])"
        )
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT l, r, pair_freq FROM p{i} "
            "ORDER BY pair_freq DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT v.word, v.freq, {fold.replace('b.', f'b{i}.')} AS sym "
            f"FROM {prev} v CROSS JOIN b{i} b{i})"
        )
    return ", ".join(ctes)


def bpe_train_sql(n_merges: int, text_source: str = "documents") -> str:
    """Full unrolled-round DuckDB replay of :func:`bpe_train`: per round a
    pair census, a LIMIT-1 argmax with the same tie-break, and the same
    fold applied with the round's winning pair via correlated lambda
    references (no literals — the SQL learns the merges itself)."""
    selects = " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, pair_freq FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + bpe_ctes(n_merges, text_source) + " " + selects
