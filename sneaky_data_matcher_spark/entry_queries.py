"""Driver-contract query registry: Spark callables + DuckDB oracle SQL.

Every SURVEY.md §2 operator that is SQL-expressible gets a (queries,
oracle_sql) pair here; the driver runs both at sf=0.01 and compares
row-count + schema + order-insensitive value-hash. Column names are aliased
identically on both sides; float-producing queries round to 6 decimals
after computing on identical double pipelines (Jaro-Winkler runs the SAME
DuckDB kernel on both sides — see functions/similarity.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import canonicalize as C
from .functions import textstats as TS
from .functions import urls as U
from .functions.similarity import (
    cosine_similarity,
    jaro_winkler,
    levenshtein_ratio,
    token_jaccard,
)
from .operators import clustering, pprl, search, sketches as SK
from .operators.dedup import repeated_kgram_spans_sql, repeated_kgram_stats_sql
from .sources import flatdocs
from .sources.layout import zorder_key_sql as _zorder_key_sql

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


# The driver runs every query in one session over one sf_dir; many queries
# share the same derived frames (canonical text is a per-token regex
# pipeline — the most expensive projection in the registry). Cache shared
# frames per (application, sf_dir) behind a lazy localCheckpoint. Keyed by
# applicationId (stable per SparkContext — id(spark) can be reused by
# CPython after a stopped session is GC'd); entries from any OTHER
# application are purged on insert, so frames of a stopped context are
# released and the cache never outlives two contexts.
_FRAME_CACHE: dict[tuple, DataFrame] = {}


def _cached(spark: SparkSession, sf_dir: str, name: str, builder) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    if key not in _FRAME_CACHE:
        for k in [k for k in _FRAME_CACHE if k[0] != app_id]:
            del _FRAME_CACHE[k]
        _FRAME_CACHE[key] = builder().localCheckpoint(eager=False)
    return _FRAME_CACHE[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _keys(spark, sf_dir):
    return _cached(
        spark, sf_dir, "keys", lambda: flatdocs.keys_frame(_docs(spark, sf_dir))
    )


def _canon(spark, sf_dir):
    return _cached(
        spark, sf_dir, "canon", lambda: flatdocs.canon_frame(_docs(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# P2/P3 — canonicalization chain (StringTransformer.java:11-45)
# ---------------------------------------------------------------------------

@_q(
    "canon_tlc_nrm",
    f"WITH {flatdocs.CANON_CTE} SELECT doc_id, doc_text FROM canon",
)
def canon_tlc_nrm(spark, sf_dir):
    return _canon(spark, sf_dir).select("doc_id", "doc_text")


# P5 — phone rule (RecordValidationUtilService.java:24-31). Testdata has no
# phone column; construct deterministic raw phones (short ones hit the
# <5-digit reject branch) identically on both sides.
_PHONE_RAW_SQL = (
    "CASE WHEN c_custkey % 4 = 0 THEN '12.3' "
    "ELSE '+1 (' || CAST(c_custkey AS VARCHAR) || ') 555-0' "
    "|| CAST(c_custkey % 100 AS VARCHAR) END"
)


@_q(
    "phone_normalize",
    f"SELECT c_custkey, {C.phone_rule_sql('phone_raw')} AS phone_norm "
    f"FROM (SELECT c_custkey, {_PHONE_RAW_SQL} AS phone_raw FROM customer)",
)
def phone_normalize(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    raw = F.when(F.col("c_custkey") % 4 == 0, F.lit("12.3")).otherwise(
        F.concat(
            F.lit("+1 ("),
            F.col("c_custkey").cast("string"),
            F.lit(") 555-0"),
            (F.col("c_custkey") % 100).cast("string"),
        )
    )
    return cust.select("c_custkey", C.phone_rule(raw).alias("phone_norm"))


# P4 — email rule (RecordValidationUtilService.java:17-23). The fixture
# covers every structural branch of the commons-validator port: double-@,
# single-label (allowLocal), quoted local-part with a space, [IPv4] literal,
# bad octet, >64-char user, bad domain label, and a plain valid address.
_EMAIL_EXPR_SQL = (
    "CASE WHEN c_custkey % 8 = 0 THEN lower(replace(c_name, ' ', '.')) || '@@bad' "
    "WHEN c_custkey % 8 = 1 THEN lower(replace(c_name, ' ', '.')) || '@localhost' "
    "WHEN c_custkey % 8 = 2 THEN '\"' || lower(c_name) || ' x\"@example.com' "
    "WHEN c_custkey % 8 = 3 THEN lower(replace(c_name, ' ', '.')) || '@[192.168.0.' || CAST(c_custkey % 256 AS VARCHAR) || ']' "
    "WHEN c_custkey % 8 = 4 THEN lower(replace(c_name, ' ', '.')) || '@[300.1.2.3]' "
    "WHEN c_custkey % 8 = 5 THEN repeat('a', 65) || '@example.com' "
    "WHEN c_custkey % 8 = 6 THEN lower(replace(c_name, ' ', '.')) || '@exa_mple.com' "
    "ELSE lower(replace(c_name, ' ', '.')) || '@example.com' END"
)


@_q(
    "email_validate",
    f"SELECT c_custkey, email, {C.email_is_valid_sql('email')} AS is_valid "
    f"FROM (SELECT c_custkey, {_EMAIL_EXPR_SQL} AS email FROM customer)",
)
def email_validate(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = F.concat(F.lower(F.regexp_replace("c_name", " ", ".")))
    k = F.col("c_custkey") % 8
    email = (
        F.when(k == 0, F.concat(base, F.lit("@@bad")))
        .when(k == 1, F.concat(base, F.lit("@localhost")))
        .when(k == 2, F.concat(F.lit('"'), F.lower("c_name"), F.lit(' x"@example.com')))
        .when(k == 3, F.concat(base, F.lit("@[192.168.0."),
                               (F.col("c_custkey") % 256).cast("string"), F.lit("]")))
        .when(k == 4, F.concat(base, F.lit("@[300.1.2.3]")))
        .when(k == 5, F.concat(F.repeat(F.lit("a"), 65), F.lit("@example.com")))
        .when(k == 6, F.concat(base, F.lit("@exa_mple.com")))
        .otherwise(F.concat(base, F.lit("@example.com")))
    )
    df = cust.select("c_custkey", email.alias("email"))
    return df.select("c_custkey", "email", C.email_is_valid(F.col("email")).alias("is_valid"))


# P4b — email rule with the DomainValidator TLD check (r4, VERDICT r3 #8):
# EmailValidator.getInstance(true, true) validates the final domain label
# against the compiled-in IANA TLD arrays; this query exercises the frozen
# public snapshot (functions/tld.py) on: known gTLD, known ccTLD (incl.
# uppercase — matching is case-insensitive), UNKNOWN TLD (rejected),
# single-label hostname (allowLocal passes without a TLD), [IPv4] and
# [IPv6] literals (exempt — valid and malformed-compression cases), and
# a multi-label ccTLD chain (.co.uk).
_EMAIL_TLD_EXPR_SQL = (
    "CASE WHEN c_custkey % 8 = 0 THEN lower(replace(c_name, ' ', '.')) || '@example.com' "
    "WHEN c_custkey % 8 = 1 THEN lower(replace(c_name, ' ', '.')) || '@example.zzzznotatld' "
    "WHEN c_custkey % 8 = 2 THEN lower(replace(c_name, ' ', '.')) || '@example.co.uk' "
    "WHEN c_custkey % 8 = 3 THEN lower(replace(c_name, ' ', '.')) || '@localhost' "
    "WHEN c_custkey % 8 = 4 THEN lower(replace(c_name, ' ', '.')) || '@EXAMPLE.DE' "
    "WHEN c_custkey % 8 = 5 THEN lower(replace(c_name, ' ', '.')) || '@[2001:db8::' || CAST(c_custkey % 9 + 1 AS VARCHAR) || ']' "
    "WHEN c_custkey % 8 = 6 THEN lower(replace(c_name, ' ', '.')) || '@[1::2::' || CAST(c_custkey % 9 + 1 AS VARCHAR) || ']' "
    "ELSE lower(replace(c_name, ' ', '.')) || '@[10.0.0.' || CAST(c_custkey % 256 AS VARCHAR) || ']' END"
)


@_q(
    "email_validate_tld",
    f"SELECT c_custkey, email, {C.email_is_valid_sql('email', check_tld=True)} AS is_valid "
    f"FROM (SELECT c_custkey, {_EMAIL_TLD_EXPR_SQL} AS email FROM customer)",
)
def email_validate_tld(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = F.lower(F.regexp_replace("c_name", " ", "."))
    k = F.col("c_custkey") % 8
    email = (
        F.when(k == 0, F.concat(base, F.lit("@example.com")))
        .when(k == 1, F.concat(base, F.lit("@example.zzzznotatld")))
        .when(k == 2, F.concat(base, F.lit("@example.co.uk")))
        .when(k == 3, F.concat(base, F.lit("@localhost")))
        .when(k == 4, F.concat(base, F.lit("@EXAMPLE.DE")))
        .when(k == 5, F.concat(base, F.lit("@[2001:db8::"),
                               (F.col("c_custkey") % 9 + 1).cast("string"), F.lit("]")))
        .when(k == 6, F.concat(base, F.lit("@[1::2::"),
                               (F.col("c_custkey") % 9 + 1).cast("string"), F.lit("]")))
        .otherwise(F.concat(base, F.lit("@[10.0.0."),
                            (F.col("c_custkey") % 256).cast("string"), F.lit("]")))
    )
    df = cust.select("c_custkey", email.alias("email"))
    return df.select(
        "c_custkey", "email",
        C.email_is_valid(F.col("email"), check_tld=True).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# F1-F9 + L1 — the query mini-language over the long keys frame
# ---------------------------------------------------------------------------

@_q(
    "search_contains",
    f"WITH {flatdocs.KEYS_CTE} SELECT DISTINCT doc_id FROM keys "
    "WHERE key_kind = 'text' AND contains(value, 'spark')",
)
def search_contains(spark, sf_dir):
    return search.search_seeds(_keys(spark, sf_dir), ["text:>spark<"])


@_q(
    "search_and",
    f"WITH {flatdocs.KEYS_CTE} "
    "SELECT doc_id FROM keys WHERE key_kind='tok0' AND value LIKE 'b%' "
    "INTERSECT SELECT doc_id FROM keys WHERE key_kind='lang' AND value='en'",
)
def search_and(spark, sf_dir):
    return search.search_seeds(_keys(spark, sf_dir), ["tok0:b<", "lang:en"], "AND")


@_q(
    "search_or",
    f"WITH {flatdocs.KEYS_CTE} "
    "SELECT doc_id FROM keys WHERE key_kind='tok0' AND value='spark' "
    "UNION SELECT doc_id FROM keys WHERE key_kind='text' AND value LIKE '%window'",
)
def search_or(spark, sf_dir):
    return search.search_seeds(_keys(spark, sf_dir), ["tok0:spark", "text:>window"], "OR")


@_q(
    "search_pagination",
    f"WITH {flatdocs.KEYS_CTE} "
    "SELECT doc_id FROM (SELECT DISTINCT doc_id FROM keys "
    "WHERE key_kind='text' AND contains(value, 'data')) "
    "ORDER BY doc_id OFFSET 10 LIMIT 10",
)
def search_pagination(spark, sf_dir):
    seeds = search.search_seeds(_keys(spark, sf_dir), ["text:>data<"])
    return search.paginate(seeds, skip=10, limit=10)


@_q(
    "search_provenance",
    f"WITH {flatdocs.KEYS_CTE} "
    "SELECT doc_id FROM keys WHERE key_kind='lang' AND value='en' "
    "INTERSECT SELECT doc_id FROM keys WHERE key_kind='source' AND value IN ('src1','src3')",
)
def search_provenance(spark, sf_dir):
    return search.search_seeds(
        _keys(spark, sf_dir), ["lang:en"], "AND", limit_by_sources=["src1", "src3"]
    )


# J1 — row reassembly with multi-valued cells (SearchRepository.java:213-247)
@_q(
    "reassemble_rows",
    f"WITH {flatdocs.KEYS_CTE}, seeds AS ("
    "SELECT DISTINCT doc_id FROM keys WHERE key_kind='tok0' AND value='spark') "
    "SELECT k.doc_id, k.key_kind, "
    "array_to_string(list_sort(list_distinct(list(k.value))), '|') AS cell "
    "FROM keys k JOIN seeds s ON k.doc_id = s.doc_id "
    "GROUP BY k.doc_id, k.key_kind",
)
def reassemble_rows(spark, sf_dir):
    keys = _keys(spark, sf_dir)
    seeds = search.search_seeds(keys, ["tok0:spark"])
    rows = search.reassemble_rows(seeds, keys)
    return rows.select(
        "doc_id", "key_kind", F.array_join("values", "|").alias("cell")
    )


# J2 — join-by-shared-value enrichment, capped (SearchRepository.java:249-297)
@_q(
    "join_enrichment",
    f"WITH {flatdocs.KEYS_CTE}, "
    "seeds AS (SELECT DISTINCT doc_id FROM keys WHERE key_kind='tok0' AND value='spark'), "
    "jk AS (SELECT doc_id, key_kind AS join_col, value AS join_value FROM keys "
    "       WHERE key_kind = 'tok0'), "
    "hits AS (SELECT s.doc_id, o.doc_id AS other_doc_id, j.join_col, j.join_value, "
    "  ROW_NUMBER() OVER (PARTITION BY s.doc_id "
    "                     ORDER BY o.doc_id, j.join_col, j.join_value) AS rn "
    "  FROM seeds s JOIN jk j ON s.doc_id = j.doc_id "
    "  JOIN jk o ON j.join_col = o.join_col AND j.join_value = o.join_value "
    "  WHERE o.doc_id <> s.doc_id) "
    "SELECT doc_id, other_doc_id, join_col, join_value FROM hits WHERE rn <= 3",
)
def join_enrichment(spark, sf_dir):
    keys = _keys(spark, sf_dir)
    seeds = search.search_seeds(keys, ["tok0:spark"])
    return search.join_enrichment(seeds, keys, ["tok0"], max_join_depth=2)


# J3 — probe match: canonicalize probe, EQUALS join, top-1 per probe
# (services/SearchService.java:104-199). Probe values are perturbed
# (uppercased + wrapped in quotes) then recovered by the TLC+NRM chain.
_PROBE_SQL = (
    f"WITH {flatdocs.KEYS_CTE}, "
    "probe AS (SELECT doc_id AS probe_id, "
    + C.nrm_sql("lower('\"' || upper(string_split(doc_text, ' ')[1]) || '\"')")
    + " AS tok0, lang FROM canon WHERE doc_id % 7 = 0 AND doc_text <> ''), "
    "k1 AS (SELECT doc_id, value FROM keys WHERE key_kind='tok0'), "
    "k2 AS (SELECT doc_id, value FROM keys WHERE key_kind='lang'), "
    "m AS (SELECT p.probe_id, k1.doc_id FROM probe p JOIN k1 ON p.tok0 = k1.value "
    "      INTERSECT SELECT p.probe_id, k2.doc_id FROM probe p JOIN k2 ON p.lang = k2.value), "
    "r AS (SELECT probe_id, doc_id, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY doc_id) rn FROM m) "
    "SELECT probe_id, doc_id FROM r WHERE rn = 1"
)


@_q("probe_match", _PROBE_SQL)
def probe_match(spark, sf_dir):
    keys = _keys(spark, sf_dir)
    canon = _canon(spark, sf_dir)
    perturbed = F.concat(F.lit('"'), F.upper(F.split("doc_text", " ")[0]), F.lit('"'))
    probe = canon.where((F.col("doc_id") % 7 == 0) & (F.col("doc_text") != "")).select(
        F.col("doc_id").alias("probe_id"),
        C.transform_chain(perturbed, ["TLC", "NRM"]).alias("tok0"),
        "lang",
    )
    return search.probe_match(probe, keys, {"tok0": "tok0", "lang": "lang"})


# S6 — wide export frame: global sorted header, multi-valued cells
# JSON-encoded, missing cells empty (services/SearchService.java:233-259).
_EXPORT_KINDS = ["lang", "source", "text", "tok0"]


@_q(
    "export_wide",
    f"WITH {flatdocs.KEYS_CTE}, seeds AS ("
    "SELECT DISTINCT doc_id FROM keys WHERE key_kind='tok0' AND value='spark'), "
    "cells AS (SELECT k.doc_id, k.key_kind, "
    "to_json(list_sort(list_distinct(list(k.value)))) AS cell "
    "FROM keys k JOIN seeds s ON k.doc_id = s.doc_id GROUP BY k.doc_id, k.key_kind) "
    "SELECT doc_id, "
    + ", ".join(
        f"coalesce(max(CASE WHEN key_kind='{k}' THEN cell END), '') AS {k}"
        for k in _EXPORT_KINDS
    )
    + " FROM cells GROUP BY doc_id",
)
def export_wide_q(spark, sf_dir):
    keys = _keys(spark, sf_dir)
    seeds = search.search_seeds(keys, ["tok0:spark"])
    rows = search.reassemble_rows(seeds, keys)
    return search.export_wide(rows, _EXPORT_KINDS)


# A3 — distinct dynamic 'column' set (ColumnsRepository.java:21-32)
@_q(
    "distinct_key_kinds",
    f"WITH {flatdocs.KEYS_CTE} SELECT DISTINCT key_kind FROM keys",
)
def distinct_key_kinds(spark, sf_dir):
    return search.distinct_key_kinds(_keys(spark, sf_dir))


# ---------------------------------------------------------------------------
# Generic OLAP (SURVEY.md §2 aggregations/joins/windows — 'what Catalyst
# gives free', exercised to prove the engine surface)
# ---------------------------------------------------------------------------

@_q(
    "pricing_summary",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
)
def pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "join_agg_segments",
    "SELECT c_mktsegment, count(*) AS n_orders, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment",
)
def join_agg_segments(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


@_q(
    "topk_orders_per_segment",
    "WITH j AS (SELECT c_mktsegment, o_orderkey, o_totalprice, "
    "ROW_NUMBER() OVER (PARTITION BY c_mktsegment "
    "ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders JOIN customer ON o_custkey = c_custkey) "
    "SELECT c_mktsegment, o_orderkey, o_totalprice FROM j WHERE rn <= 3",
)
def topk_orders_per_segment(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Training-data ops: dedup / text analysis / ANN
# ---------------------------------------------------------------------------

_FPRINT_SQL = (
    "sha256(array_to_string(list_sort(list_distinct("
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))), ' '))"
)


@_q(
    "dedup_exact",
    f"WITH fp AS (SELECT doc_id, {_FPRINT_SQL} AS fingerprint FROM documents) "
    "SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS representative "
    "FROM fp GROUP BY fingerprint HAVING count(*) > 1",
)
def dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    fp = d.select("doc_id", TS.fingerprint(F.col("text")).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
        .where(F.col("n_docs") > 1)
    )


@_q(
    "token_stats",
    "WITH t AS (SELECT doc_id, "
    "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks FROM documents) "
    "SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct_tokens, "
    "CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
    "CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END "
    "AS mean_word_len FROM t",
)
def token_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = TS.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        TS.mean_word_length(F.col("text")).alias("mean_word_len"),
    )


# ---------------------------------------------------------------------------
# The ER pipeline itself, oracle-checked stage by stage over the flat
# documents table (media pass excluded: its hashes aren't SQL-portable;
# covered by pytest against the single-node oracle instead).
# ---------------------------------------------------------------------------

# DuckDB twins of blocking_keys' pfx/srt passes (operators/blocking.py).
_ER_KEYS_CTE = (
    flatdocs.CANON_CTE
    + ", toksed AS MATERIALIZED (SELECT doc_id, string_split(doc_text, ' ') AS toks FROM canon"
    "   WHERE doc_text <> ''), "
    "er_keys AS MATERIALIZED ("
    "SELECT doc_id, 'pfx' AS pass, "
    "'pfx:' || array_to_string(list_transform(toks[1:2], t -> t[1:4]), '_') AS block_key"
    " FROM toksed "
    "UNION ALL SELECT doc_id, 'srt', "
    "'srt:' || array_to_string(list_sort(list_distinct(toks))[1:3], '_') FROM toksed)"
)

_ER_PAIRS_CTE = (
    _ER_KEYS_CTE
    + ", er_pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "FROM er_keys a JOIN er_keys b ON a.pass = b.pass AND a.block_key = b.block_key "
    "WHERE a.doc_id < b.doc_id)"
)

# scoring formula (SQL-portable variant: jw + lev_ratio + token jaccard,
# all computed identically; media term excluded — flat docs carry no media)
_ER_SCORED_CTE = (
    _ER_PAIRS_CTE
    + ", er_texts AS MATERIALIZED (SELECT p.doc_id_a, p.doc_id_b, ca.doc_text AS ta, cb.doc_text AS tb "
    "  FROM er_pairs p JOIN canon ca ON p.doc_id_a = ca.doc_id "
    "  JOIN canon cb ON p.doc_id_b = cb.doc_id), "
    # lev terms run on the 128-char prefix — the SAME cap the production
    # scorer uses (operators/scoring.py DEFAULT_PREFIX_LEN rationale):
    # full-text O(L^2) lev was 47.6 s of the 51.5 s chain materialization
    # at sf0.01; the prefix cuts it ~5x and makes the certified chain
    # match the shipped scoring contract. jw + token jaccard stay
    # full-text (cheap). ASCII corpus => substr units agree cross-engine.
    "er_scored AS MATERIALIZED (SELECT doc_id_a, doc_id_b, "
    "  levenshtein(substr(ta, 1, 128), substr(tb, 1, 128)) AS lev, "
    "  round(jaro_winkler_similarity(ta, tb), 6) AS jw, "
    "  CASE WHEN greatest(length(ta), length(tb)) = 0 THEN 1.0 "
    "    ELSE 1.0 - CAST(levenshtein(substr(ta, 1, 128), substr(tb, 1, 128)) AS DOUBLE) "
    "         / least(greatest(length(ta), length(tb)), 128) END AS lev_ratio, "
    "  CASE WHEN len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) = 0 THEN 1.0 "
    "    ELSE CAST(len(list_intersect(list_distinct(string_split(ta,' ')), list_distinct(string_split(tb,' ')))) AS DOUBLE) "
    "       / len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) END AS tok_jaccard "
    "FROM er_texts)"
)

# Full-text variant of er_scored: the streaming ER topology scores over an
# untrimmed payload (its harness sets score_prefix_len so pfx == full text,
# keeping full-text jw AND lev), so ITS closure twin must use full-text lev
# — the 128-prefix cap above belongs to the batch er chain only.
# The chain runs over a DETERMINISTIC 1-in-2 doc sample (doc_id % 2 = 0 on
# BOTH engines — VERDICT r4 #3's residue-sampling pattern): full-text lev
# over the unsampled 39k-pair chain cost ~129 s at sf0.01, a driver-sample
# timeout risk; halving docs quarters the pair mass. The streaming Spark
# side feeds the SAME sampled docs, so the certification is exact.
_STREAM_ER_SAMPLE = "doc_id % 2 = 0"
_ER_SCORED_FULL_CTE = (
    flatdocs.CANON_CTE
    + f", scanon AS MATERIALIZED (SELECT doc_id, doc_text FROM canon "
    f"  WHERE doc_text <> '' AND {_STREAM_ER_SAMPLE}), "
    "stoksed AS MATERIALIZED (SELECT doc_id, string_split(doc_text, ' ') AS toks FROM scanon), "
    "ser_keys AS MATERIALIZED ("
    "SELECT doc_id, 'pfx' AS pass, "
    "'pfx:' || array_to_string(list_transform(toks[1:2], t -> t[1:4]), '_') AS block_key"
    " FROM stoksed "
    "UNION ALL SELECT doc_id, 'srt', "
    "'srt:' || array_to_string(list_sort(list_distinct(toks))[1:3], '_') FROM stoksed), "
    "ser_pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "FROM ser_keys a JOIN ser_keys b ON a.pass = b.pass AND a.block_key = b.block_key "
    "WHERE a.doc_id < b.doc_id), "
    "er_texts AS MATERIALIZED (SELECT p.doc_id_a, p.doc_id_b, ca.doc_text AS ta, cb.doc_text AS tb "
    "  FROM ser_pairs p JOIN scanon ca ON p.doc_id_a = ca.doc_id "
    "  JOIN scanon cb ON p.doc_id_b = cb.doc_id), "
    "er_scored AS MATERIALIZED (SELECT doc_id_a, doc_id_b, "
    "  round(jaro_winkler_similarity(ta, tb), 6) AS jw, "
    "  CASE WHEN greatest(length(ta), length(tb)) = 0 THEN 1.0 "
    "    ELSE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE) / greatest(length(ta), length(tb)) END AS lev_ratio, "
    "  CASE WHEN len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) = 0 THEN 1.0 "
    "    ELSE CAST(len(list_intersect(list_distinct(string_split(ta,' ')), list_distinct(string_split(tb,' ')))) AS DOUBLE) "
    "       / len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) END AS tok_jaccard "
    "FROM er_texts)"
)

_ER_MATCH_COND = "0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard >= 0.8"


def _er_score():
    """The composite ER pair score as a Column — the single Python-side
    definition of the twin of the SQL _ER_SCORE expression (same weights,
    same left-to-right fold order). Every query that scores er_scored
    must use this; a per-site copy that drifts would silently diverge
    from the others."""
    return (
        0.4 * F.col("jw") + 0.2 * F.col("lev_ratio") + 0.4 * F.col("tok_jaccard")
    )



def _er_frames(spark, sf_dir):
    """Spark side of the same CTE chain (pfx+srt passes, no salting).
    All three frames are cached per (session, sf_dir): four er_* queries
    share them, and pairs alone saves a census+self-join per query."""

    def build_canon():
        return (
            _canon(spark, sf_dir)
            .where(F.col("doc_text") != "")
            .withColumn("media_refs", F.array().cast("array<string>"))
        )

    canon = _cached(spark, sf_dir, "er_canon", build_canon)

    def build_keys():
        from .operators import blocking

        return blocking.blocking_keys(canon).where(F.col("pass") != "med")

    keys = _cached(spark, sf_dir, "er_keys", build_keys)

    def build_pairs():
        from .operators import blocking

        salted = keys.withColumn("salt", F.lit(0))
        return blocking.candidate_pairs(salted, cache=False)

    pairs = _cached(spark, sf_dir, "er_pairs", build_pairs)
    return canon, keys, pairs


@_q(
    "er_blocking_keys",
    f"WITH {_ER_KEYS_CTE} SELECT doc_id, pass, block_key FROM er_keys",
)
def er_blocking_keys(spark, sf_dir):
    _, keys, _ = _er_frames(spark, sf_dir)
    return keys.select("doc_id", "pass", "block_key")


@_q(
    "er_candidate_pairs",
    f"WITH {_ER_PAIRS_CTE} SELECT doc_id_a, doc_id_b FROM er_pairs",
)
def er_candidate_pairs(spark, sf_dir):
    _, _, pairs = _er_frames(spark, sf_dir)
    return pairs


@_q(
    "er_pair_scores",
    f"WITH {_ER_SCORED_CTE} SELECT doc_id_a, doc_id_b, lev, jw FROM er_scored",
)
def er_pair_scores(spark, sf_dir):
    from .functions.similarity import jaro_winkler

    canon, _, pairs = _er_frames(spark, sf_dir)
    a = canon.select(F.col("doc_id").alias("doc_id_a"), F.col("doc_text").alias("ta"))
    b = canon.select(F.col("doc_id").alias("doc_id_b"), F.col("doc_text").alias("tb"))
    t = pairs.join(a, "doc_id_a").join(b, "doc_id_b")
    return t.select(
        "doc_id_a",
        "doc_id_b",
        F.levenshtein(
            F.substring("ta", 1, 128), F.substring("tb", 1, 128)
        ).alias("lev"),
        F.round(jaro_winkler(F.col("ta"), F.col("tb")), 6).alias("jw"),
    )


def _er_scored_frame(spark, sf_dir):
    """Candidate pairs with the SQL-portable feature columns of the
    er_scored twin: (doc_id_a, doc_id_b, jw [rounded 6], lev_ratio,
    tok_jaccard). Cached — er_matches, er_clusters, er_eval and the
    Fellegi–Sunter queries all read it."""

    def build():
        from .functions.similarity import jaro_winkler, levenshtein_ratio

        canon, _, pairs = _er_frames(spark, sf_dir)
        a = canon.select(
            F.col("doc_id").alias("doc_id_a"), F.col("doc_text").alias("ta")
        )
        b = canon.select(
            F.col("doc_id").alias("doc_id_b"), F.col("doc_text").alias("tb")
        )
        t = pairs.join(a, "doc_id_a").join(b, "doc_id_b")
        sa = F.array_distinct(F.split("ta", " "))
        sb = F.array_distinct(F.split("tb", " "))
        un = F.size(F.array_union(sa, sb))
        tok_jac = F.when(un == 0, F.lit(1.0)).otherwise(
            F.size(F.array_intersect(sa, sb)).cast("double") / un.cast("double")
        )
        return t.select(
            "doc_id_a",
            "doc_id_b",
            F.round(jaro_winkler(F.col("ta"), F.col("tb")), 6).alias("jw"),
            levenshtein_ratio(
                F.substring("ta", 1, 128), F.substring("tb", 1, 128)
            ).alias("lev_ratio"),
            tok_jac.alias("tok_jaccard"),
        )

    return _cached(spark, sf_dir, "er_scored", build)


@_q(
    "er_matches",
    f"WITH {_ER_SCORED_CTE} SELECT doc_id_a, doc_id_b FROM er_scored "
    f"WHERE {_ER_MATCH_COND}",
)
def er_matches(spark, sf_dir):
    s = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    return s.where(score >= 0.8).select("doc_id_a", "doc_id_b")


# Transitive clusters: Spark connected components vs DuckDB recursive-CTE
# reachability closure (small graph at sf0.01 — the oracle's O(n*m) is fine).
# At sf0.01 and sf0.1 the match graph is far under
# clustering._DRIVER_MAX_EDGES, so this proves the driver pass (Arrow
# collect + numpy union-find); the star loop is proven in
# tests/test_clustering.py with the bound forced below each graph.
# The chain is a reusable CTE: er_cluster_stats and the Fellegi–Sunter
# estimation queries build on `clusters`.
_ER_CLUSTERS_CTE = (
    _ER_SCORED_CTE
    + f", edges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_MATCH_COND}), "
    "sym AS MATERIALIZED (SELECT u, v FROM edges UNION SELECT v, u FROM edges), "
    "reach(a, b) AS ("
    "  SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u), "
    "clusters AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)"
)


@_q(
    "er_clusters",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE} SELECT doc_id, cluster_id FROM clusters",
)
def er_clusters(spark, sf_dir):
    from .operators.clustering import cluster_nodes

    def build():
        canon, _, _ = _er_frames(spark, sf_dir)
        return cluster_nodes(canon, er_matches(spark, sf_dir))

    return _cached(spark, sf_dir, "er_clusters", build)


# Same clusters with pre_contract=True, so its oracle is IDENTICAL to
# er_clusters. Pre-contraction (clustering._contract_partitions) acts only
# in the star loop, above clustering._DRIVER_MAX_EDGES; at sf0.01 and
# sf0.1 this query takes the driver pass like er_clusters and proves that
# the flag leaves small graphs untouched. The contraction path itself is
# proven in tests/test_clustering.py (bound forced below the graph).
@_q(
    "er_clusters_contracted",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE} SELECT doc_id, cluster_id FROM clusters",
)
def er_clusters_contracted(spark, sf_dir):
    from .operators.clustering import cluster_nodes

    canon, _, _ = _er_frames(spark, sf_dir)
    return cluster_nodes(canon, er_matches(spark, sf_dir), pre_contract=True)


# MinHash-LSH near-dup pairs: the LSH path is hash-family specific (Spark
# xxhash64) so the DuckDB twin verifies the SAME SEMANTICS exhaustively —
# exact n-gram Jaccard over all pairs. Equality holds iff LSH recall is 1.0
# at this threshold/band config on this data (verified; see test_dedup for
# the probabilistic bound).
_NGRAM_SH_CTE = (
    "t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents), "
    "sh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
    "  ELSE list_distinct(list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))) END AS s FROM t)"
)


@_q(
    "ngram_dup_pairs",
    f"WITH {_NGRAM_SH_CTE} "
    "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, "
    "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)), 6) AS jaccard "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7",
)
def ngram_dup_pairs(spark, sf_dir):
    from .operators import dedup

    d = _docs(spark, sf_dir)
    out = dedup.minhash_dedup(d, "doc_id", "text", threshold=0.7)
    return out.select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))


# SimHash pairs — r2: token hashes are portable dual Horner-mod (operators/
# dedup.py SIMHASH_*), so DuckDB recomputes the SIGNATURES and finds pairs
# by exhaustive Hamming scan; the Spark side runs the pigeonhole-blocked
# path in its SOUND regime (max_hamming=7 < n_pieces=8), where blocked ==
# exhaustive is a theorem, and the hash check proves the blocking found
# every pair.
def _simhash_sig_sql() -> str:
    h = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, length(t) + 1), i -> CAST(ord(substr(t, CAST(i AS INT), 1)) AS BIGINT))), "
        "(acc, c) -> (acc * {b} + c) % 2147483647)"
    )
    tok_hash = f"({h.format(b=257)} * 2147483648 + {h.format(b=263)})"
    bitsum = (
        "list_sum(list_transform(hs, h -> "
        "CASE WHEN (h & (CAST(1 AS BIGINT) << b)) != 0 THEN 1 ELSE -1 END))"
    )
    return (
        "WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents), "
        f"th AS (SELECT doc_id, list_transform(toks, t -> {tok_hash}) AS hs FROM t), "
        "sigs AS MATERIALIZED (SELECT doc_id, coalesce(list_sum(list_transform(range(0, 62), b -> "
        f"CASE WHEN {bitsum} > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)), 0) AS sig FROM th)"
    )


@_q(
    "simhash_pairs",
    f"{_simhash_sig_sql()} "
    "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, "
    "CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming "
    "FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.sig, b.sig)) <= 7",
)
def simhash_pairs(spark, sf_dir):
    from .operators import dedup

    return dedup.simhash_dedup(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=7, n_pieces=8
    )


# ANN brute-force top-k over embeddings (DuckDB list_cosine_similarity twin)
@_q(
    "ann_bruteforce_topk",
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
    "  FROM embeddings WHERE vec_id % 50 = 0), "
    "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
    "  round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS cos "
    "  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id), "
    "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rn FROM s) "
    "SELECT query_id, neighbor_id, cos FROM r WHERE rn <= 5",
)
def ann_bruteforce_topk(spark, sf_dir):
    from .operators.ann import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    return brute_force_topk(q, emb, k=5)


# ANN LSH — bucket assignment is hash-family specific; rows-only.
# ann_lsh_topk — r2: hyperplane signs come from a portable double-Lehmer
# mix (operators/ann.py LSH_*), so the DuckDB twin recomputes the buckets
# bit-for-bit (list_reduce left fold == F.aggregate's fold, so borderline
# dot-product signs agree exactly) and hash-checks the full bucketed top-k.
def _lsh_buckets_sql(n_planes: int = 6, n_tables: int = 12) -> str:
    from .operators.ann import LSH_A, LSH_I_STRIDE, LSH_M, LSH_T_STRIDE

    def sign(t: int, i: int) -> str:
        x = f"({t * LSH_T_STRIDE + i * LSH_I_STRIDE} + j)"
        h = f"((({x} * {LSH_A}) % {LSH_M}) * {LSH_A}) % {LSH_M}"
        return f"CASE WHEN ({h}) % 2 = 0 THEN 1.0 ELSE -1.0 END"

    def bit(t: int, i: int) -> str:
        dot = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(0, len(v)), j -> v[CAST(j + 1 AS INT)] * ({sign(t, i)}))), "
            "(acc, x) -> acc + x)"
        )
        return f"CAST(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END AS VARCHAR)"

    tables = ", ".join(
        f"'t{t}:' || " + " || ".join(bit(t, i) for i in range(n_planes))
        for t in range(n_tables)
    )
    return f"[{tables}]"


@_q(
    "ann_lsh_topk",
    "WITH qv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 50 = 0), "
    "cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    f"qb AS MATERIALIZED (SELECT vec_id AS query_id, unnest({_lsh_buckets_sql()}) AS bucket FROM qv), "
    f"cb AS MATERIALIZED (SELECT vec_id AS neighbor_id, unnest({_lsh_buckets_sql()}) AS bucket FROM cv), "
    "pairs AS (SELECT DISTINCT query_id, neighbor_id FROM qb JOIN cb USING (bucket) "
    "  WHERE query_id <> neighbor_id), "
    "s AS (SELECT p.query_id, p.neighbor_id, "
    "  round(list_cosine_similarity(q.v, c.v), 6) AS cos "
    "  FROM pairs p JOIN qv q ON p.query_id = q.vec_id JOIN cv c ON p.neighbor_id = c.vec_id), "
    "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rn FROM s) "
    "SELECT query_id, neighbor_id, cos FROM r WHERE rn <= 5",
)
def ann_lsh_topk(spark, sf_dir):
    from .operators.ann import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    return lsh_topk(q, emb, k=5)


# IVF ANN: centroids = every 50th vector (deterministic stand-in for a tiny
# k-means output); corpus routed to nearest centroid, queries probe top-2
# lists. Fully SQL-expressible, so the oracle checks routing AND scoring.
_IVF_CTE = (
    "cent AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centv "
    "  FROM embeddings WHERE vec_id % 50 = 1), "
    "corp AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), "
    "qry AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
    "  FROM embeddings WHERE vec_id % 50 = 0), "
    "ca AS (SELECT neighbor_id, cv, centroid_id FROM ("
    "  SELECT c.neighbor_id, c.cv, t.centroid_id, ROW_NUMBER() OVER ("
    "    PARTITION BY c.neighbor_id "
    "    ORDER BY list_cosine_similarity(c.cv, t.centv) DESC, t.centroid_id) rn "
    "  FROM corp c CROSS JOIN cent t) WHERE rn = 1), "
    "qa AS (SELECT query_id, qv, centroid_id FROM ("
    "  SELECT q.query_id, q.qv, t.centroid_id, ROW_NUMBER() OVER ("
    "    PARTITION BY q.query_id "
    "    ORDER BY list_cosine_similarity(q.qv, t.centv) DESC, t.centroid_id) rn "
    "  FROM qry q CROSS JOIN cent t) WHERE rn <= 2)"
)


@_q(
    "ann_ivf_topk",
    f"WITH {_IVF_CTE} "
    "SELECT query_id, neighbor_id, cos FROM ("
    "  SELECT qa.query_id, ca.neighbor_id, "
    "    round(list_cosine_similarity(qa.qv, ca.cv), 6) AS cos, "
    "    ROW_NUMBER() OVER (PARTITION BY qa.query_id ORDER BY "
    "      round(list_cosine_similarity(qa.qv, ca.cv), 6) DESC, ca.neighbor_id) rn "
    "  FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id "
    "  WHERE qa.query_id <> ca.neighbor_id) WHERE rn <= 5",
)
def ann_ivf_topk(spark, sf_dir):
    from .operators.ann import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    cent = emb.where(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_topk(q, emb, cent, k=5, n_probe=2)


# PQ ANN (Jégou et al.): 64-dim vectors → 8 subspaces × 8 dims; codebook =
# every 50th vector (deterministic stand-in for per-subspace k-means, the
# same trick as IVF's centroids); corpus encoded to 8 one-byte codes,
# queries scored by asymmetric distance (per-query lookup table). Encode
# argmins, table lookups, and the fold order are identical double
# arithmetic on both engines, so the oracle hash-checks codes AND ranking.
_PQ_CTE = (
    "cbi AS (SELECT vec_id AS cb_id, CAST(embedding AS DOUBLE[]) AS cbv, "
    "  CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS idx "
    "  FROM embeddings WHERE vec_id % 50 = 1), "
    "cbm AS (SELECT list(cbv ORDER BY idx) AS mat FROM cbi), "
    "corp AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "qry AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v "
    "  FROM embeddings WHERE vec_id % 50 = 0), "
    "subs AS (SELECT unnest(range(8)) AS s), "
    "enc AS (SELECT neighbor_id, s, idx AS code FROM ("
    "  SELECT c.neighbor_id, subs.s, b.idx, ROW_NUMBER() OVER ("
    "    PARTITION BY c.neighbor_id, subs.s ORDER BY "
    "    list_sum(list_transform(range(8), j -> "
    "      (c.v[CAST(subs.s*8 + j + 1 AS INT)] - b.cbv[CAST(subs.s*8 + j + 1 AS INT)]) "
    "      * (c.v[CAST(subs.s*8 + j + 1 AS INT)] - b.cbv[CAST(subs.s*8 + j + 1 AS INT)]))), "
    "    b.idx) rn "
    "  FROM corp c CROSS JOIN subs CROSS JOIN cbi b) WHERE rn = 1), "
    "encl AS (SELECT neighbor_id, list(code ORDER BY s) AS codes FROM enc GROUP BY neighbor_id)"
)


@_q(
    "ann_pq_topk",
    f"WITH {_PQ_CTE} "
    "SELECT query_id, neighbor_id, adist FROM ("
    "  SELECT query_id, neighbor_id, adist, ROW_NUMBER() OVER ("
    "    PARTITION BY query_id ORDER BY adist, neighbor_id) rn FROM ("
    "  SELECT q.query_id, e.neighbor_id, "
    "    round(list_sum(list_transform(range(8), s -> "
    "      list_sum(list_transform(range(8), j -> "
    "        (q.v[CAST(s*8 + j + 1 AS INT)] "
    "          - m.mat[e.codes[CAST(s + 1 AS INT)]][CAST(s*8 + j + 1 AS INT)]) "
    "        * (q.v[CAST(s*8 + j + 1 AS INT)] "
    "          - m.mat[e.codes[CAST(s + 1 AS INT)]][CAST(s*8 + j + 1 AS INT)]))))), 6) AS adist "
    "  FROM qry q CROSS JOIN encl e CROSS JOIN cbm m "
    "  WHERE q.query_id <> e.neighbor_id)) WHERE rn <= 5",
)
def ann_pq_topk(spark, sf_dir):
    from .operators.ann import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    cb = emb.where(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("cb_id"), "embedding"
    )
    return pq_topk(q, emb, cb, k=5, m=8)


# Embedding-cosine near-duplicate detection: corpus ∪ rescaled copies of
# every 10th vector (cosine with the original = 1.0 — deterministic true
# near-dups on both sides); Spark runs the LSH-bucketed path, the oracle is
# the exhaustive O(n²) scan — equality certifies bucketed recall = 1 here.
@_q(
    "embedding_near_dup",
    "WITH aug AS ("
    "  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings "
    "  UNION ALL SELECT vec_id + 1000000, "
    "    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001) "
    "  FROM embeddings WHERE vec_id % 10 = 0) "
    "SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, "
    "  round(list_cosine_similarity(a.v, b.v), 6) AS cos "
    "FROM aug a JOIN aug b ON a.vec_id < b.vec_id "
    "WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95",
)
def embedding_near_dup_q(spark, sf_dir):
    from .operators.dedup import embedding_near_dup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    aug = emb.unionByName(
        emb.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        )
    )
    return embedding_near_dup(aug, threshold=0.95, bucketed=True)


# Winnowing rolling-hash fingerprints (Schleimer et al.): polynomial
# Horner-mod k-gram hashes -> per-window minima. The hash arithmetic is
# engine-portable by construction, so this is fully oracle-checked.
@_q(
    "winnow_fingerprints",
    "SELECT doc_id, unnest("
    + TS.winnow_fingerprints_sql("kh")
    + ") AS fp FROM (SELECT doc_id, "
    + TS.kgram_hashes_sql("text")
    + " AS kh FROM documents WHERE length(text) >= 8)",
)
def winnow_fingerprints_q(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.length("text") >= 8)
    return d.select(
        "doc_id", F.explode(TS.winnow_fingerprints(F.col("text"))).alias("fp")
    )


# Sequence packing (concat-and-split): docs laid end-to-end in doc_id order,
# cut into 512-token chunks; one row per (doc, chunk) a doc's tokens land in.
# Spark computes the global prefix sum with the two-phase partition-offset
# pattern (no single-partition window); the oracle is the literal window
# spec it must equal.
@_q(
    "pack_chunks",
    "WITH t AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(text, '\\s+'), "
    "  x -> x <> '')) AS BIGINT) AS n FROM documents), "
    "c AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM t), "
    "e AS (SELECT doc_id, n, s, unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS chunk_id "
    "  FROM c WHERE n > 0) "
    "SELECT doc_id, chunk_id, "
    "  least((chunk_id + 1) * 512, s + n) - greatest(chunk_id * 512, s) AS toks_in_chunk, "
    "  n AS n_tokens FROM e",
)
def pack_chunks_q(spark, sf_dir):
    from .operators.packing import pack_chunks

    return pack_chunks(_docs(spark, sf_dir), cap=512)


@_q(
    "packing_stats",
    "WITH t AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(text, '\\s+'), "
    "  x -> x <> '')) AS BIGINT) AS n FROM documents), "
    "c AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM t), "
    "e AS (SELECT doc_id, n, s, unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS chunk_id "
    "  FROM c WHERE n > 0), "
    "x AS (SELECT doc_id, chunk_id, "
    "  least((chunk_id + 1) * 512, s + n) - greatest(chunk_id * 512, s) AS toks_in_chunk FROM e) "
    "SELECT chunk_id, COUNT(*) AS n_docs, CAST(SUM(toks_in_chunk) AS BIGINT) AS fill_tokens, "
    "  CAST(SUM(toks_in_chunk) AS DOUBLE) / 512 AS fill_ratio "
    "FROM x GROUP BY chunk_id",
)
def packing_stats_q(spark, sf_dir):
    from .operators.packing import pack_chunks, packing_stats

    return packing_stats(pack_chunks(_docs(spark, sf_dir), cap=512), cap=512)


# Corpus boilerplate mining: top-50 most frequent token 5-grams with
# occurrence + distinct-doc counts; deterministic (occurrences desc, ngram
# asc) so the LIMIT set is stable under the driver's order-insensitive hash.
@_q(
    "ngram_census",
    "WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), "
    "  x -> x <> '') AS toks FROM documents), "
    "g AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 4), "
    "  i -> array_to_string(list_slice(toks, i + 1, i + 5), ' '))) AS ngram "
    "  FROM t WHERE len(toks) >= 5) "
    "SELECT ngram, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS n_docs "
    "FROM g GROUP BY ngram ORDER BY occurrences DESC, ngram LIMIT 50",
)
def ngram_census_q(spark, sf_dir):
    from .operators.dedup import ngram_census

    return ngram_census(_docs(spark, sf_dir), n=5, top=50)


# RAG-style overlapping token chunking: per-doc windows of 32 tokens with
# stride 24 (windows start while start < n_tokens; last may be short);
# chunk text re-joined with single spaces. Pure per-row explode.
@_q(
    "chunk_overlapping",
    "WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), "
    "  x -> x <> '') AS toks FROM documents), "
    "e AS (SELECT doc_id, toks, unnest(range(0, (len(toks) - 1) // 24 + 1)) AS ci "
    "  FROM t WHERE len(toks) > 0) "
    "SELECT doc_id, ci AS chunk_idx, "
    "  array_to_string(list_slice(toks, ci * 24 + 1, least(ci * 24 + 32, len(toks))), ' ') "
    "    AS chunk_text, "
    "  CAST(least(ci * 24 + 32, len(toks)) - ci * 24 AS BIGINT) AS chunk_tokens "
    "FROM e",
)
def chunk_overlapping_q(spark, sf_dir):
    from .operators.packing import chunk_overlapping

    return chunk_overlapping(_docs(spark, sf_dir), size=32, stride=24)


# Unigram LM quality scoring: add-one-smoothed mean token log-prob under
# counts trained on the corpus itself. Per-(doc,tok) terms c·ln(p) are
# rounded to 9 decimals and summed as DECIMAL (order-independent), so the
# oracle reproduces the score bit-for-bit.
@_q(
    "lm_logprob",
    "WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), "
    "  x -> x <> '')) AS tok FROM documents), "
    "dt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok), "
    "cnt AS (SELECT tok, SUM(c) AS n FROM dt GROUP BY tok), "
    "tot AS (SELECT SUM(n) AS N, COUNT(*) AS V FROM cnt), "
    "terms AS (SELECT d.doc_id, d.c, CAST(round(d.c * ln((cn.n + 1) / CAST(t.N + t.V AS DOUBLE)), 9) "
    "  AS DECIMAL(28,10)) AS term FROM dt d JOIN cnt cn USING (tok) CROSS JOIN tot t) "
    "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, "
    "  CAST(SUM(term) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS mean_logprob "
    "FROM terms GROUP BY doc_id",
)
def lm_logprob_q(spark, sf_dir):
    from .operators.lm import unigram_logprob_scores

    return unigram_logprob_scores(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Text analysis: language id, quality score
# ---------------------------------------------------------------------------

def _sw_ratio_sql(lang: str) -> str:
    from .functions.textstats import _LANG_STOPWORDS

    words = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS[lang])
    return (
        f"CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
        f"CAST(len(list_filter(toks, t -> list_contains([{words}], t))) AS DOUBLE) / len(toks) END"
    )


# r3: 16 stopword languages + CJK script detection; the CASE chain is
# generated from the SAME _LANG_STOPWORDS the Spark expression uses, and
# checks languages in sorted order = the Spark tie-break (alphabetical
# winner on equal ratios).
_LANGS = sorted(TS._LANG_STOPWORDS)
_G_R = "greatest(" + ", ".join(f"r_{lg}" for lg in _LANGS) + ")"
_VOTE_CASE = (
    f"CASE WHEN {_G_R} = 0 THEN 'und' "
    + " ".join(f"WHEN r_{lg} = {_G_R} THEN '{lg}'" for lg in _LANGS[:-1])
    + f" ELSE '{_LANGS[-1]}' END"
)
_LANG_CTE = (
    "t AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents), "
    "r AS (SELECT doc_id, "
    f"length(regexp_replace(text, '[^{TS._HAN_RANGE}]', '', 'g')) AS han, "
    f"length(regexp_replace(text, '[^{TS._KANA_RANGE}]', '', 'g')) AS kana, "
    f"length(regexp_replace(text, '[^{TS._HANGUL_RANGE}]', '', 'g')) AS hangul, "
    f"length(regexp_replace(text, '{TS._WS_CLASS}', '', 'g')) AS nonspace, "
    + ", ".join(f"{_sw_ratio_sql(lg)} AS r_{lg}" for lg in _LANGS)
    + " FROM t)"
)


@_q(
    "lang_id",
    f"WITH {_LANG_CTE} SELECT doc_id, "
    "CASE WHEN han + kana + hangul > 0 AND (han + kana + hangul) * 10 >= nonspace * 3 THEN "
    "(CASE WHEN hangul > 0 THEN 'ko' WHEN kana > 0 THEN 'ja' ELSE 'zh' END) "
    f"ELSE {_VOTE_CASE} END AS lang_pred FROM r",
)
def lang_id_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TS.lang_id(F.col("text")).alias("lang_pred"))


@_q(
    "quality_score",
    "WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks, "
    "  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rtoks FROM documents), "
    "c AS (SELECT doc_id, "
    "  least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS len_score, "
    "  CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END AS punct, "
    "  CASE WHEN len(rtoks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(rtoks, x -> length(x))) AS DOUBLE) / len(rtoks) END AS mwl, "
    f"  {_sw_ratio_sql('en')} AS sw FROM t) "
    "SELECT doc_id, round(0.3 * len_score + 0.3 * greatest(0.0, 1.0 - punct * 4.0) "
    " + 0.2 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) "
    " + 0.2 * least(sw * 5.0, 1.0), 6) AS quality FROM c",
)
def quality_score_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", F.round(TS.quality_score(F.col("text")), 6).alias("quality")
    )


# quality v2 (r3): repetition-penalized score. The fixture text is single-
# line, so the query scores a LINED variant (every space -> newline, a 1:1
# translate that provably changes no v1 component: same length, same
# tokens, same punct) — making the duplicate-line term compute real line
# structure on both engines. Crafted boilerplate docs are pytest-covered.
_V2_LINED = "replace(text, ' ', chr(10))"
_V2_CTE = (
    f"t AS (SELECT doc_id, {_V2_LINED} AS text FROM documents), "
    "s AS (SELECT doc_id, text, "
    "  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks, "
    "  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rtoks, "
    "  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines FROM t), "
    "b AS (SELECT *, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])[1:512] AS bg FROM s), "
    "c AS (SELECT doc_id, "
    "  least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS len_score, "
    "  CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END AS punct, "
    "  CASE WHEN len(rtoks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(rtoks, x -> length(x))) AS DOUBLE) / len(rtoks) END AS mwl, "
    f"  {_sw_ratio_sql('en')} AS sw, "
    "  CASE WHEN len(lines) = 0 THEN 0.0 ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END AS dup_lines, "
    "  CASE WHEN len(toks) < 2 THEN 0.0 ELSE CAST(list_max(list_transform(list_distinct(bg), d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / len(bg) END AS top_bg "
    "FROM b) "
)


@_q(
    "quality_score_v2",
    f"WITH {_V2_CTE}"
    "SELECT doc_id, round(0.6 * (0.3 * len_score + 0.3 * greatest(0.0, 1.0 - punct * 4.0) "
    " + 0.2 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) "
    " + 0.2 * least(sw * 5.0, 1.0)) "
    " + 0.2 * (1.0 - dup_lines) + 0.2 * (1.0 - top_bg), 6) AS quality FROM c",
)
def quality_score_v2_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    lined = F.translate(F.col("text"), " ", "\n")
    return d.select(
        "doc_id", F.round(TS.quality_score_v2(lined), 6).alias("quality")
    )


# ---------------------------------------------------------------------------
# Windowed event aggregation (streaming twin runs in streaming/incremental;
# the batch window agg is the SQL-checkable core)
# ---------------------------------------------------------------------------

@_q(
    "events_windowed",
    "SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type, "
    "count(*) AS n_events, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def events_windowed(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payloads + mapInPandas featurizer). The whole
# ref/payload/feature derivation is keyed off sha2 hex digits (r2: rekeyed
# from xxhash64), so DuckDB can recompute it end-to-end — these now get real
# value-hash oracle checks. The mapInPandas featurizer itself is still
# pytest-verified for determinism/batching (test_multimodal).
# ---------------------------------------------------------------------------

def _media(spark, sf_dir):
    from .operators.multimodal import synth_media_table
    from .sources.spans import derive_spans

    return synth_media_table(derive_spans(_docs(spark, sf_dir)))


def _hexv_sql(expr: str) -> str:
    """DuckDB value of one lowercase hex digit (sha2 output domain)."""
    return f"(strpos('0123456789abcdef', {expr}) - 1)"


# media refs CTE: DuckDB twin of derive_spans' media spans + synth_media's
# distinct — content key over the sorted distinct lowercased token set,
# n_media/kind from its hex digits (sources/spans.py:48-74)
_MEDIA_REFS_CTE = (
    "rtoks AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks FROM documents), "
    "ck AS (SELECT sha256(list_aggregate(list_sort(list_distinct(list_transform(toks, x -> lower(x)))), 'string_agg', ' ')) AS key FROM rtoks), "
    f"nm AS (SELECT key, {_hexv_sql('substr(key, 1, 1)')} % 3 AS n_media FROM ck), "
    "refs AS (SELECT DISTINCT 'm:' || substr(key, 1, 16) || '-' || CAST(j AS VARCHAR) AS media_ref, "
    f"  CASE ({_hexv_sql('substr(key, CAST(j + 2 AS INT), 1)')} % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind "
    "FROM (SELECT key, unnest(range(n_media)) AS j FROM nm WHERE n_media > 0))"
)


@_q(
    "media_features",
    f"WITH {_MEDIA_REFS_CTE}, "
    "ph AS (SELECT media_ref, kind, substr(sha256(media_ref), 1, 32) AS h FROM refs), "
    "ex AS (SELECT media_ref, kind, h, CAST(unnest(range(16)) AS INT) AS idx FROM ph) "
    "SELECT media_ref, kind, idx, "
    f"round(({_hexv_sql('substr(h, 2 * idx + 1, 1)')} * 16 + {_hexv_sql('substr(h, 2 * idx + 2, 1)')}) / 100003.0, 6) AS value, "
    "CAST(16 AS INT) AS feat_dim FROM ex",
)
def media_features(spark, sf_dir):
    """mapInPandas featurizer, exploded to one row per (ref, dim) so the
    driver harness can hash it (array<float> cells are unhashable — r1)."""
    from .operators.multimodal import extract_features

    feats = extract_features(_media(spark, sf_dir))
    return feats.select(
        "media_ref",
        "kind",
        F.posexplode("feature").alias("idx", "value"),
        "feat_dim",
    ).select(
        "media_ref",
        "kind",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
        "feat_dim",
    )


@_q(
    "media_frame_plan",
    f"WITH {_MEDIA_REFS_CTE}, "
    "dur AS (SELECT media_ref, substr(sha256(media_ref), 39, 5) AS d5 FROM refs WHERE kind = 'video'), "
    "vids AS (SELECT media_ref, "
    f"  (((({_hexv_sql('substr(d5, 1, 1)')} * 16 + {_hexv_sql('substr(d5, 2, 1)')}) * 16 + {_hexv_sql('substr(d5, 3, 1)')}) * 16 "
    f"   + {_hexv_sql('substr(d5, 4, 1)')}) * 16 + {_hexv_sql('substr(d5, 5, 1)')}) % 60000 AS duration_ms FROM dur), "
    "nf AS (SELECT media_ref, greatest(CAST(floor(duration_ms / 1000.0) AS INT), 1) AS n_frames FROM vids) "
    "SELECT media_ref, CAST(idx AS INT) AS frame_idx, CAST(idx * 1000 AS INT) AS timestamp_ms "
    "FROM (SELECT media_ref, unnest(range(n_frames)) AS idx FROM nf)",
)
def media_frame_plan(spark, sf_dir):
    from .operators.multimodal import frame_sample_plan

    return frame_sample_plan(_media(spark, sf_dir))


# ---------------------------------------------------------------------------
# REAL media decode (r3): synth_real_media_table emits genuine WAV/BMP bytes,
# extract_features(strict=True) parses them with stdlib struct, and the
# oracle recomputes every feature from the generative sample/pixel formula —
# WITHOUT ever seeing the bytes. A bug in either the encoder or the decoder
# (header layout, stride padding, bottom-up order, chunk alignment, int16
# unpack) breaks the hash match, so this checks the byte round trip end to
# end. See operators/multimodal.py:_decode_wav/_decode_bmp.
# ---------------------------------------------------------------------------


def _hex_int_sql(hexpr: str, start: int, n: int) -> str:
    """DuckDB BIGINT of n hex digits of `hexpr` from 1-based pos `start`."""
    e = "CAST(0 AS BIGINT)"
    for k in range(n):
        e = f"({e} * 16 + {_hexv_sql(f'substr({hexpr}, {start + k}, 1)')})"
    return e


def _real_media(spark, sf_dir):
    from .operators.multimodal import synth_real_media_table

    return synth_real_media_table(_media(spark, sf_dir))


def _media_decode_q(spark, sf_dir, kind: str):
    from .operators.multimodal import extract_features

    m = _real_media(spark, sf_dir).where(F.col("kind") == kind)
    feats = extract_features(m, strict=True)  # real decode or die
    return feats.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


_WAV_SEED = _hex_int_sql("hh", 1, 8)

# shared audio-twin pieces (r5 refactor): the formula-sample CTE chain
# and the feature tail, parameterized by the samples relation so the
# μ-law twin can interpose a lossy round-trip stage
_WAV_SMP_CTE = (
    f"{_MEDIA_REFS_CTE}, "
    f"sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'audio')), "
    "pr AS (SELECT media_ref, seed, 64 + seed % 192 AS n FROM sd), "
    "smp AS (SELECT media_ref, n, "
    "  list_transform(range(0, n), i -> ((seed + i * 48271) % 65536) - 32768) AS s FROM pr)"
)


def _wav_feats_sql(src: str) -> str:
    """Feature tail over a (media_ref, n, s) relation — floor-quantized
    to 6 decimals, matching _q6 (round() tie semantics differ between
    engines — Python banker's vs DuckDB half-away)."""
    return (
        "ag AS (SELECT media_ref, n, s, list_sum(s) AS tot, "
        "  list_sum(list_transform(s, x -> x * x)) AS ssq, "
        "  len(list_filter(range(1, n), i -> (s[i] >= 0) <> (s[i + 1] >= 0))) AS zc, "
        f"  list_min(s) AS mn, list_max(s) AS mx FROM {src}) "
        "SELECT media_ref, CAST(idx AS INT) AS idx, floor((CASE idx "
        "  WHEN 0 THEN 8000 / 48000.0 "
        "  WHEN 1 THEN n / 65536.0 "
        "  WHEN 2 THEN CAST(n AS DOUBLE) / 8000 "
        "  WHEN 3 THEN CAST(tot AS DOUBLE) / n / 32768.0 "
        "  WHEN 4 THEN sqrt(CAST(ssq AS DOUBLE) / n) / 32768.0 "
        "  WHEN 5 THEN CAST(zc AS DOUBLE) / (n - 1) "
        "  WHEN 6 THEN mn / 32768.0 "
        "  WHEN 7 THEN mx / 32768.0 "
        "  ELSE sqrt(CAST(list_sum(list_transform("
        "    s[((idx - 8) * n // 8 + 1):((idx - 7) * n // 8)], x -> x * x)) AS DOUBLE) "
        "    / ((idx - 7) * n // 8 - (idx - 8) * n // 8)) / 32768.0 "
        "END) * 1000000) / 1000000 AS value "
        "FROM (SELECT *, unnest(range(16)) AS idx FROM ag)"
    )


@_q(
    "media_decode_wav",
    f"WITH {_WAV_SMP_CTE}, {_wav_feats_sql('smp')}",
)
def media_decode_wav(spark, sf_dir):
    return _media_decode_q(spark, sf_dir, "audio")


def _mulaw_rt_sql(var: str) -> str:
    """decode(encode(x)) of G.711 μ-law as one integer SQL expression —
    the cosine-free-closed-form move from the JPEG twin, applied to
    audio: magnitude clip + bias, exponent by range CASE, mantissa by
    integer div/mod, exact re-expansion (multimodal.mulaw_*_sample)."""
    t = f"(least(abs({var}), 32635) + 132)"
    branches = []
    for e in range(7):
        lim = 1 << (e + 8)
        branches.append(
            f"WHEN {t} < {lim} THEN "
            f"((({t} // {1 << (e + 3)}) % 16) * 8 + 132) * {1 << e} - 132"
        )
    mag = (
        "CASE "
        + " ".join(branches)
        + f" ELSE ((({t} // {1 << 10}) % 16) * 8 + 132) * 128 - 132 END"
    )
    return f"CASE WHEN {var} < 0 THEN -({mag}) ELSE ({mag}) END"


# μ-law decode (r5): a REAL lossy AUDIO codec round trip — WAV format 7
# (G.711), every 16-bit sample compressed to an 8-bit codeword and
# re-expanded by the genuine decoder. The oracle passes the generative
# samples through the exact integer closed form above, then the shared
# feature tail — a wrong bias, exponent boundary, or complement breaks
# the hash for every row.
@_q(
    "media_decode_mulaw",
    f"WITH {_WAV_SMP_CTE}, "
    "smp2 AS (SELECT media_ref, n, "
    f"  list_transform(s, x -> {_mulaw_rt_sql('x')}) AS s FROM smp), "
    f"{_wav_feats_sql('smp2')}",
)
def media_decode_mulaw(spark, sf_dir):
    from .operators.multimodal import extract_features, synth_real_media_table

    m = synth_real_media_table(_media(spark, sf_dir), audio_format="mulaw").where(
        F.col("kind") == "audio"
    )
    feats = extract_features(m, strict=True)  # real G.711 decode or die
    return feats.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# AIFF decode (r5): the big-endian PCM container (FORM/COMM/SSND, 80-bit
# extended-float rate) — lossless, so the WAV twin certifies it verbatim
# (container independence, like PNG/GIF vs BMP on the image side).
@_q(
    "media_decode_aiff",
    f"WITH {_WAV_SMP_CTE}, {_wav_feats_sql('smp')}",
)
def media_decode_aiff(spark, sf_dir):
    from .operators.multimodal import extract_features, synth_real_media_table

    m = synth_real_media_table(_media(spark, sf_dir), audio_format="aiff").where(
        F.col("kind") == "audio"
    )
    feats = extract_features(m, strict=True)  # real big-endian parse or die
    return feats.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


@_q(
    "media_decode_bmp",
    f"WITH {_MEDIA_REFS_CTE}, "
    f"sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'image')), "
    "pr AS (SELECT media_ref, seed, 4 + seed % 12 AS w, 4 + (seed // 16) % 12 AS h FROM sd), "
    "px AS (SELECT media_ref, w, h, w * h AS npx, "
    "  list_transform(range(0, w * h), p -> (seed // 11 + 7 * p) % 256) AS rr, "
    "  list_transform(range(0, w * h), p -> (seed // 7 + 5 * p) % 256) AS gg, "
    "  list_transform(range(0, w * h), p -> (seed + 3 * p) % 256) AS bb FROM pr), "
    "lm AS (SELECT *, list_transform(range(0, npx), "
    "  p -> (rr[p + 1] * 299 + gg[p + 1] * 587 + bb[p + 1] * 114) // 1000) AS lum FROM px), "
    "ag AS (SELECT media_ref, w, h, npx, list_sum(rr) AS rs, list_sum(gg) AS gs, "
    "  list_sum(bb) AS bs, list_sum(lum) AS ls, list_max(lum) AS lmx, "
    "  list_min(lum) AS lmn, lum FROM lm) "
    "SELECT media_ref, CAST(idx AS INT) AS idx, floor((CASE idx "
    "  WHEN 0 THEN w / 1024.0 "
    "  WHEN 1 THEN h / 1024.0 "
    "  WHEN 2 THEN CAST(rs AS DOUBLE) / npx / 255.0 "
    "  WHEN 3 THEN CAST(gs AS DOUBLE) / npx / 255.0 "
    "  WHEN 4 THEN CAST(bs AS DOUBLE) / npx / 255.0 "
    "  WHEN 5 THEN CAST(ls AS DOUBLE) / npx / 255.0 "
    "  WHEN 6 THEN lmx / 255.0 "
    "  WHEN 7 THEN lmn / 255.0 "
    "  ELSE CAST(len(list_filter(lum, x -> x * 8 // 256 = idx - 8)) AS DOUBLE) / npx "
    "END) * 1000000) / 1000000 AS value "
    "FROM (SELECT *, unnest(range(16)) AS idx FROM ag)",
)
def media_decode_bmp(spark, sf_dir):
    return _media_decode_q(spark, sf_dir, "image")


# PNG decode (r3 continuation): the SAME pixel formula as the BMP twin —
# the container is now zlib-COMPRESSED (real DEFLATE, real CRC-32 chunk
# checksums, all five scanline filters cycled across rows), so a hash
# match certifies a genuine compressed-codec round trip: encoder filters
# + zlib + decoder unfilters all have to be byte-correct. The oracle SQL
# is identical to media_decode_bmp's on purpose: features depend only on
# the pixels, never the container.
_PNG_DECODE_SQL = ORACLE_SQL["media_decode_bmp"]


@_q("media_decode_png", _PNG_DECODE_SQL)
def media_decode_png(spark, sf_dir):
    from .operators.multimodal import extract_features, synth_real_media_table

    m = synth_real_media_table(_media(spark, sf_dir), image_format="png").where(
        F.col("kind") == "image"
    )
    feats = extract_features(m, strict=True)  # real zlib decode or die
    return feats.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# GIF decode (r5): the LZW compressed container, same pixel formula as
# BMP/PNG — the oracle SQL is the BMP twin verbatim (container
# independence is the certificate, exactly like PNG): palette build,
# variable-width LSB-first LZW, sub-block reassembly, and the decoder's
# inverse all have to be byte-correct for the hash to match.
@_q("media_decode_gif", _PNG_DECODE_SQL)
def media_decode_gif(spark, sf_dir):
    from .operators.multimodal import extract_features, synth_real_media_table

    m = synth_real_media_table(_media(spark, sf_dir), image_format="gif").where(
        F.col("kind") == "image"
    )
    feats = extract_features(m, strict=True)  # real LZW decode or die
    return feats.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# Mixed-container decode (r5): ALL FOUR image containers in ONE table
# (bmp/png/gif/jpeg by seed % 4), one strict extract_features pass — the
# certificate that per-payload magic DISPATCH works, not just each codec
# in isolation. Oracle: lossless refs (seed % 4 <> 3) reuse the BMP
# pixel-formula twin; jpeg refs (seed % 4 = 3) the solid closed form —
# branched by recomputing the seed from sha256(media_ref) in the outer
# WHERE (8 hex digits, same _WAV_SEED arithmetic).
_MIXED4_SEED = _hex_int_sql("sha256(media_ref)", 1, 8)


# oracle assigned AFTER the jpeg twin below (it composes both SQL strings)
@_q("media_decode_mixed", None)
def media_decode_mixed(spark, sf_dir):
    from .operators.multimodal import extract_features, synth_real_media_table

    m = synth_real_media_table(_media(spark, sf_dir), image_format="mixed4").where(
        F.col("kind") == "image"
    )
    feats = extract_features(m, strict=True)  # every container or die
    return feats.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# JPEG decode (r5): a REAL lossy DCT codec round trip — stdlib+numpy
# baseline encoder + general baseline decoder (operators/jpegcodec.py),
# Annex-K tables, Huffman entropy coding, byte stuffing. The fixture
# images are SOLID colors (jpeg_params): a constant image has only DC
# coefficients, so the decoded value per channel is the cosine-free
# closed form solid_roundtrip_rgb — quantize round-half-even (DuckDB
# round_even == np.round), dequantize, invert the DC-only IDCT, clamp —
# which the oracle replicates term-for-term below (qy=8 / qc=9 are the
# IJG-scaled Annex-K DC quants at quality 75). A bug anywhere in the
# entropy coder, table emission, DCT scale, or color transform breaks
# the hash.
@_q(
    "media_decode_jpeg",
    f"WITH {_MEDIA_REFS_CTE}, "
    f"jsd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'image')), "
    "jpr AS (SELECT media_ref, 4 + seed % 12 AS w, 4 + (seed // 16) % 12 AS h, "
    "  CAST((seed // 11) % 256 AS DOUBLE) AS r0, "
    "  CAST((seed // 7) % 256 AS DOUBLE) AS g0, "
    "  CAST(seed % 256 AS DOUBLE) AS b0 FROM jsd), "
    "jyc AS (SELECT *, 0.299 * r0 + 0.587 * g0 + 0.114 * b0 AS y1, "
    "  -0.168736 * r0 - 0.331264 * g0 + 0.5 * b0 + 128.0 AS cb1, "
    "  0.5 * r0 - 0.418688 * g0 - 0.081312 * b0 + 128.0 AS cr1 FROM jpr), "
    "jrt AS (SELECT *, "
    "  round_even(8.0 * (y1 - 128.0) / 8.0, 0) * 8.0 / 8.0 + 128.0 AS y2, "
    "  round_even(8.0 * (cb1 - 128.0) / 9.0, 0) * 9.0 / 8.0 + 128.0 AS cb2, "
    "  round_even(8.0 * (cr1 - 128.0) / 9.0, 0) * 9.0 / 8.0 + 128.0 AS cr2 FROM jyc), "
    "jrgb AS (SELECT media_ref, w, h, "
    "  CAST(floor(least(255.0, greatest(0.0, y2 + 1.402 * (cr2 - 128.0))) + 0.5) AS BIGINT) AS r2, "
    "  CAST(floor(least(255.0, greatest(0.0, y2 - 0.344136 * (cb2 - 128.0) - 0.714136 * (cr2 - 128.0))) + 0.5) AS BIGINT) AS g2, "
    "  CAST(floor(least(255.0, greatest(0.0, y2 + 1.772 * (cb2 - 128.0))) + 0.5) AS BIGINT) AS b2 FROM jrt), "
    "jlm AS (SELECT *, (r2 * 299 + g2 * 587 + b2 * 114) // 1000 AS lum FROM jrgb) "
    "SELECT media_ref, CAST(idx AS INT) AS idx, floor((CASE idx "
    "  WHEN 0 THEN w / 1024.0 "
    "  WHEN 1 THEN h / 1024.0 "
    "  WHEN 2 THEN CAST(r2 AS DOUBLE) / 255.0 "
    "  WHEN 3 THEN CAST(g2 AS DOUBLE) / 255.0 "
    "  WHEN 4 THEN CAST(b2 AS DOUBLE) / 255.0 "
    "  WHEN 5 THEN CAST(lum AS DOUBLE) / 255.0 "
    "  WHEN 6 THEN CAST(lum AS DOUBLE) / 255.0 "
    "  WHEN 7 THEN CAST(lum AS DOUBLE) / 255.0 "
    "  ELSE CASE WHEN lum * 8 // 256 = idx - 8 THEN 1.0 ELSE 0.0 END "
    "END) * 1000000) / 1000000 AS value "
    "FROM (SELECT *, unnest(range(16)) AS idx FROM jlm)",
)
def media_decode_jpeg(spark, sf_dir):
    from .operators.multimodal import extract_features, synth_real_media_table

    m = synth_real_media_table(_media(spark, sf_dir), image_format="jpeg").where(
        F.col("kind") == "image"
    )
    feats = extract_features(m, strict=True)  # real DCT decode or die
    return feats.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


# Streaming media decode (r5): the media DIM table arrives as a 2-batch
# FILE STREAM and the SAME strict BMP decode featurizer runs inside
# Structured Streaming (mapInPandas is a stateless streaming transform —
# exactly how a 100 TB multimodal ingest decodes media as it lands).
# The oracle is the batch BMP pixel twin VERBATIM: stream == batch is
# the certificate, like the other stream_* queries.
@_q("stream_media_decode", None)  # oracle assigned below (= bmp twin)
def stream_media_decode_q(spark, sf_dir):
    import tempfile

    from .operators.multimodal import extract_features, synth_real_media_table
    from .streaming.incremental import run_stream_to_memory

    m = synth_real_media_table(_media(spark, sf_dir)).where(
        F.col("kind") == "image"
    )
    d = tempfile.mkdtemp(prefix="smsp_media_stream_")
    half = F.pmod(F.xxhash64("media_ref"), F.lit(2)) == 0
    m.where(half).write.mode("overwrite").parquet(f"{d}/in/b0")
    m.where(~half).write.mode("overwrite").parquet(f"{d}/in/b1")
    schema = spark.read.parquet(f"{d}/in/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/in/*")
    )
    feats = extract_features(stream, strict=True)
    out = run_stream_to_memory(spark, feats, "stream_media_decode_sink")
    return out.select(
        "media_ref", F.posexplode("feature").alias("idx", "value")
    ).select(
        "media_ref",
        "idx",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


ORACLE_SQL["stream_media_decode"] = ORACLE_SQL["media_decode_bmp"]


# media_decode_mixed oracle (declared above): lossless branch = the BMP
# pixel twin, jpeg branch = the solid closed-form twin, routed by the
# seed recomputed from sha256(media_ref) — the same 4-way split
# synth_real_media_table('mixed4') uses for the payload bytes.
ORACLE_SQL["media_decode_mixed"] = (
    f"SELECT * FROM ({ORACLE_SQL['media_decode_bmp']}) "
    f"WHERE ({_MIXED4_SEED}) % 4 <> 3 "
    "UNION ALL "
    f"SELECT * FROM ({ORACLE_SQL['media_decode_jpeg']}) "
    f"WHERE ({_MIXED4_SEED}) % 4 = 3"
)


# AVI video decode (r3): synth emits a structurally-valid RIFF/AVI (hdrl +
# movi with uncompressed bottom-up BGR24 '00db' frames), _decode_avi parses
# it, and the twin recomputes every feature from the generative per-frame
# pixel formula r=(s//11+7p+13f)%256, g=(s//7+5p+17f)%256, b=(s+3p+19f)%256
# — lum and motion in pure integer math (operators/multimodal.py).
_AVI_LUM = (
    "list_transform(range(0, nf), f -> list_transform(range(0, npx), p -> "
    "(((seed // 11 + 7 * p + 13 * f) % 256) * 299 "
    "+ ((seed // 7 + 5 * p + 17 * f) % 256) * 587 "
    "+ ((seed + 3 * p + 19 * f) % 256) * 114) // 1000))"
)


@_q(
    "media_decode_avi",
    f"WITH {_MEDIA_REFS_CTE}, "
    f"sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'video')), "
    "pr AS (SELECT media_ref, seed, 4 + seed % 8 AS w, 4 + (seed // 16) % 8 AS h, "
    "  2 + (seed // 256) % 6 AS nf FROM sd), "
    "px AS (SELECT *, w * h AS npx FROM pr), "
    f"lm AS (SELECT media_ref, w, h, nf, npx, {_AVI_LUM} AS lum FROM px), "
    "ag AS (SELECT media_ref, w, h, nf, npx, lum, "
    "  list_sum(list_transform(lum, l -> list_sum(l))) AS ls, "
    "  list_max(list_transform(lum, l -> list_max(l))) AS lmx, "
    "  list_min(list_transform(lum, l -> list_min(l))) AS lmn, "
    "  CASE WHEN nf = 1 THEN 0 ELSE list_sum(list_transform(range(1, nf), f -> "
    "    list_sum(list_transform(range(0, npx), p -> abs(lum[f + 1][p + 1] - lum[f][p + 1]))))) END AS mot "
    "FROM lm) "
    "SELECT media_ref, CAST(idx AS INT) AS idx, floor((CASE idx "
    "  WHEN 0 THEN w / 1024.0 "
    "  WHEN 1 THEN h / 1024.0 "
    "  WHEN 2 THEN nf / 64.0 "
    "  WHEN 3 THEN 10.0 / 64.0 "
    "  WHEN 4 THEN CAST(ls AS DOUBLE) / (nf * npx) / 255.0 "
    "  WHEN 5 THEN lmx / 255.0 "
    "  WHEN 6 THEN lmn / 255.0 "
    "  WHEN 7 THEN (CASE WHEN nf = 1 THEN 0.0 ELSE CAST(mot AS DOUBLE) / ((nf - 1) * npx) END) / 255.0 "
    "  ELSE CAST(list_sum(list_transform(lum, l -> len(list_filter(l, x -> x * 8 // 256 = idx - 8)))) AS DOUBLE) / (nf * npx) "
    "END) * 1000000) / 1000000 AS value "
    "FROM (SELECT *, unnest(range(16)) AS idx FROM ag)",
)
def media_decode_avi(spark, sf_dir):
    return _media_decode_q(spark, sf_dir, "video")


@_q(
    "stream_windowed_events",
    # identical SQL to the batch events_windowed twin: the streaming run is
    # batch-equivalent once the whole file is consumed (complete mode, no
    # late data past the watermark in a replayed static file)
    "SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type, "
    "count(*) AS n_events, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def stream_windowed_events(spark, sf_dir):
    """Batch `events_windowed` run as a real Structured-Streaming query
    (file source -> watermark -> tumbling window -> memory sink).

    value is pre-cast to decimal(18,6) so the windowed sum is exact (same
    trick as the batch twin): a double sum's low bits depend on partition
    fold order, which would make the driver's value hash flap run-to-run.
    """
    from .streaming.incremental import run_stream_to_memory, windowed_event_counts

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file stream source takes a directory; glob-filter to the events table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("value", F.col("value").cast("decimal(18,6)"))
    )
    agg = windowed_event_counts(stream)
    out = run_stream_to_memory(
        spark, agg, "stream_windowed_events_sink", output_mode="complete"
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@_q(
    "stream_probe_match",
    # batch-equivalent twin: a stream-static inner equi-join over a replayed
    # static file emits exactly the batch join result (probe docs and corpus
    # tok0 keys are both one-row-per-doc, so no multiplicity to reconcile)
    f"WITH {flatdocs.KEYS_CTE}, "
    "probe AS (SELECT doc_id AS probe_doc_id, string_split(doc_text, ' ')[1] AS k "
    "  FROM canon WHERE doc_id % 7 = 0 AND string_split(doc_text, ' ')[1] <> ''), "
    "corpus AS (SELECT doc_id AS corpus_doc_id, value AS k FROM keys WHERE key_kind = 'tok0') "
    "SELECT probe_doc_id, corpus_doc_id FROM probe JOIN corpus USING (k)",
)
def stream_probe_match_q(spark, sf_dir):
    """Streaming twin of probe_match: documents arrive as a stream, each is
    canonicalized with the SAME expressions and equi-joined (stream-static)
    against the corpus tok0 keys."""
    from .streaming.incremental import run_stream_to_memory

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    probe = (
        flatdocs.canon_frame(stream)
        .where(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").alias("probe_doc_id"),
            F.split("doc_text", " ")[0].alias("k"),
        )
        .where(F.col("k") != "")
    )
    corpus = (
        flatdocs.keys_frame(_docs(spark, sf_dir))
        .where(F.col("key_kind") == "tok0")
        .select(F.col("doc_id").alias("corpus_doc_id"), F.col("value").alias("k"))
    )
    joined = probe.join(corpus, "k").select("probe_doc_id", "corpus_doc_id")
    return run_stream_to_memory(spark, joined, "stream_probe_match_sink")


@_q(
    "stream_candidate_pairs",
    # the streaming state op emits each within-block pair exactly once with
    # STRING ids ordered lexicographically (the pair-state UDF compares the
    # cast ids), so the twin re-canonicalizes the batch er_pairs (numeric
    # order) through least/greatest over varchar — the sets are equal
    # (asserted vs batch in tests/test_streaming.py), only the within-pair
    # order convention differs
    f"WITH {_ER_PAIRS_CTE} "
    "SELECT least(CAST(doc_id_a AS VARCHAR), CAST(doc_id_b AS VARCHAR)) AS doc_id_a, "
    "greatest(CAST(doc_id_a AS VARCHAR), CAST(doc_id_b AS VARCHAR)) AS doc_id_b "
    "FROM er_pairs",
)
def stream_candidate_pairs_q(spark, sf_dir):
    """Incremental candidate generation as a real stateful streaming query
    (applyInPandasWithState per-block state), upgraded in r2 from a
    rows-only check to a full value-hash oracle (set equality vs the batch
    blocking self-join, modulo string vs numeric within-pair order)."""
    from .operators import blocking
    from .streaming.incremental import run_stream_to_memory, streaming_candidate_pairs

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    canon = (
        flatdocs.canon_frame(stream)
        # testdata doc_id is int64; the pair-state UDF emits string ids
        .withColumn("doc_id", F.col("doc_id").cast("string"))
        .withColumn("media_refs", F.array().cast("array<string>"))
    )
    keyed = blocking.blocking_keys(canon, payload_cols=["doc_text"])
    pairs = streaming_candidate_pairs(keyed)
    out = run_stream_to_memory(spark, pairs, "stream_cand_pairs_sink")
    return out.select("doc_id_a", "doc_id_b").distinct()


# Streaming incremental clustering: edges stream in two micro-batches, a
# foreachBatch contraction maintains the clusters table. The oracle is the
# same recursive-CTE closure as er_clusters restricted to matched docs
# (the incremental table only carries docs that appeared in an edge).
@_q(
    "stream_incremental_clusters",
    f"WITH RECURSIVE {_ER_SCORED_CTE}, "
    f"edges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_MATCH_COND}), "
    "sym AS MATERIALIZED (SELECT u, v FROM edges UNION SELECT v, u FROM edges), "
    "reach(a, b) AS ("
    "  SELECT u, u FROM sym "
    "  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u) "
    "SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a",
)
def stream_incremental_clusters_q(spark, sf_dir):
    import tempfile

    from .sources.io import TableIO
    from .streaming.incremental import incremental_cluster_stream

    m = er_matches(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="smsp_inc_cc_")
    # deterministic two-way split (limit/subtract would re-evaluate and race)
    half = F.pmod(F.xxhash64("doc_id_a", "doc_id_b"), F.lit(2)) == 0
    m.where(half).write.mode("overwrite").parquet(f"{d}/edges/b0")
    m.where(~half).write.mode("overwrite").parquet(f"{d}/edges/b1")
    schema = spark.read.parquet(f"{d}/edges/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/edges/*")
    )
    io = TableIO(spark, f"{d}/state")
    q = incremental_cluster_stream(stream, io, checkpoint_dir=f"{d}/ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return io.load("clusters")


# Full streaming ER topology: documents arrive as a 2-batch stream,
# canonicalize -> stateful pair gen -> scoring -> incremental CC. Weights/
# threshold/prefix are set so the score formula is exactly the er_* CTE's
# (full-text jw/lev, no media term), which makes the SAME recursive-CTE
# closure the oracle. doc_ids are zero-padded in-stream so the string
# min() the state path uses agrees with the oracle's numeric min.
@_q(
    "stream_er_clusters",
    f"WITH RECURSIVE {_ER_SCORED_FULL_CTE}, "
    f"edges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_MATCH_COND}), "
    "sym AS MATERIALIZED (SELECT u, v FROM edges UNION SELECT v, u FROM edges), "
    "reach(a, b) AS ("
    "  SELECT u, u FROM sym "
    "  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u) "
    "SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a",
)
def stream_er_clusters_q(spark, sf_dir):
    import tempfile

    from .plans.pipeline import PipelineConfig
    from .sources.io import TableIO
    from .streaming.incremental import streaming_er_topology

    # same deterministic 1-in-2 doc sample as the oracle chain
    # (_STREAM_ER_SAMPLE) — full-text scoring over all 500 docs was a
    # ~129 s twin at sf0.01
    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    spans = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    d = tempfile.mkdtemp(prefix="smsp_er_topo_")
    half = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
    spans.where(half).write.mode("overwrite").parquet(f"{d}/in/b0")
    spans.where(~half).write.mode("overwrite").parquet(f"{d}/in/b1")
    schema = spark.read.parquet(f"{d}/in/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/in/*")
    )
    cfg = PipelineConfig(
        threshold=0.8,
        weights={"jw": 0.4, "lev": 0.2, "tok": 0.4, "med": 0.0},
        score_prefix_len=1_000_000,  # er formula compares FULL texts
        salting_enabled=False,
    )
    io = TableIO(spark, f"{d}/state")
    q = streaming_er_topology(stream, io, cfg, checkpoint_dir=f"{d}/ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return io.load("clusters").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# Survivorship: golden record per entity cluster (r3). Reuses the full er_*
# chain; the oracle extends the recursive-CTE closure with a window pick
# (longest canonical text, min doc_id tie-break) — the Spark side is a
# map-side-combinable max(struct) agg, no window (clustering.golden_records).
# ---------------------------------------------------------------------------

@_q(
    "er_golden_records",
    f"WITH RECURSIVE {_ER_SCORED_CTE}, "
    f"edges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_MATCH_COND}), "
    "sym AS MATERIALIZED (SELECT u, v FROM edges UNION SELECT v, u FROM edges), "
    "reach(a, b) AS ("
    "  SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u), "
    "clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a), "
    "j AS (SELECT cl.cluster_id, cl.doc_id, c.doc_text, length(c.doc_text) AS text_len "
    "  FROM clusters cl JOIN canon c USING (doc_id)), "
    "ranked AS (SELECT *, "
    "  row_number() OVER (PARTITION BY cluster_id ORDER BY text_len DESC, doc_id ASC) AS rn, "
    "  count(*) OVER (PARTITION BY cluster_id) AS n_members FROM j) "
    "SELECT cluster_id, doc_id AS rep_doc_id, text_len AS rep_text_len, "
    "doc_text AS rep_text, CAST(n_members AS BIGINT) AS n_members "
    "FROM ranked WHERE rn = 1",
)
def er_golden_records(spark, sf_dir):
    canon, _, _ = _er_frames(spark, sf_dir)
    return clustering.golden_records(
        er_clusters(spark, sf_dir), canon, id_col="doc_id", text_col="doc_text"
    )


# ---------------------------------------------------------------------------
# PII scan + redaction (r3). Testdata text is a clean token soup, so the
# query scans a deterministically AUGMENTED variant (same trick as
# phone_normalize's constructed raws): every doc gets one PII kind keyed by
# doc_id % 4, exercising all five detectors plus the Luhn gate end to end
# on both engines.
# ---------------------------------------------------------------------------

_PII_AUG_SQL = (
    "text || CASE doc_id % 4 "
    "WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' "
    "WHEN 1 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.' || CAST(doc_id % 251 AS VARCHAR) "
    "WHEN 2 THEN ' card 4012 8888 8888 1881 ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "ELSE ' call +1 ' || CAST(200 + doc_id % 700 AS VARCHAR) || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END"
)


def _pii_oracle_sql() -> str:
    from .functions import pii

    card = pii.CARD_CANDIDATE_PAT.replace("'", "''")
    phone = pii.PHONE_PAT.replace("'", "''")
    return (
        f"WITH t AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents) "
        "SELECT doc_id, "
        f"len(regexp_extract_all(text, '{pii.EMAIL_PAT}')) AS n_email, "
        f"len(regexp_extract_all(text, '{pii.IPV4_PAT}')) AS n_ipv4, "
        f"len(regexp_extract_all(text, '{pii.SSN_PAT}')) AS n_ssn, "
        f"len(list_filter(regexp_extract_all(text, '{card}'), "
        f"    c -> {pii.luhn_valid_sql('c')})) AS n_card, "
        f"len(regexp_extract_all(text, '{phone}')) AS n_phone, "
        f"{pii.redact_sql('text')} AS redacted "
        "FROM t"
    )


@_q("pii_scan", _pii_oracle_sql())
def pii_scan_q(spark, sf_dir):
    from .functions import pii

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    aug = F.concat(
        F.col("text"),
        F.when(did % 4 == 0, F.concat(F.lit(" contact user"), s(did), F.lit("@example.com now")))
        .when(did % 4 == 1, F.concat(F.lit(" from 10."), s(did % 200), F.lit(".3."), s(did % 251)))
        .when(
            did % 4 == 2,
            F.concat(F.lit(" card 4012 8888 8888 1881 ssn 123-45-"), F.lpad(s(did % 10000), 4, "0")),
        )
        .otherwise(
            F.concat(F.lit(" call +1 "), s(200 + did % 700), F.lit("-555-"), F.lpad(s(did % 10000), 4, "0"))
        ),
    )
    return pii.pii_scan(d.select("doc_id", aug.alias("text")), "doc_id", "text")


# ---------------------------------------------------------------------------
# Corpus-level duplicate-line removal (r3). Testdata text has no newlines,
# so the query lines it up deterministically (8-token chunks) on both
# engines, then Spark runs operators/dedup.line_dedup while the oracle
# re-derives the census + ordered rebuild in SQL.
# ---------------------------------------------------------------------------

_LINED_SQL = (
    "(SELECT doc_id, array_to_string(list_transform("
    "  range(1, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) + 1), "
    "  i -> array_to_string(string_split(text, ' ')[CAST((i-1)*8+1 AS BIGINT):CAST((i-1)*8+8 AS BIGINT)], ' ')), chr(10)) AS t "
    "FROM documents)"
)


@_q(
    "line_dedup",
    f"WITH lined AS {_LINED_SQL}, "
    "l2 AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM lined), "
    "ex AS (SELECT doc_id, unnest(range(1, len(lines) + 1)) AS line_no, unnest(lines) AS line FROM l2), "
    "census AS (SELECT line, count(*) AS n FROM ex GROUP BY line), "
    "tagged AS (SELECT e.doc_id, e.line_no, e.line, c.n >= 2 AS is_dup "
    "  FROM ex e JOIN census c USING (line)) "
    "SELECT doc_id, count(*) AS n_lines, "
    "CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines, "
    "coalesce(array_to_string(list(line ORDER BY line_no) FILTER (WHERE NOT is_dup), chr(10)), '') AS clean_text "
    "FROM tagged GROUP BY doc_id",
)
def line_dedup_q(spark, sf_dir):
    from .operators.dedup import line_dedup

    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ", -1)
    n_chunks = F.ceil(F.size(toks) / F.lit(8.0))
    lined = F.array_join(
        F.transform(
            F.sequence(F.lit(1).cast("long"), n_chunks),
            lambda i: F.array_join(F.slice(toks, ((i - 1) * 8 + 1).cast("int"), 8), " "),
        ),
        "\n",
    )
    return line_dedup(d.select("doc_id", lined.alias("text")), "doc_id", "text")


# ---------------------------------------------------------------------------
# Dedup clusters (r3): the full near-dup pipeline composed end-to-end —
# MinHash+LSH pairs -> connected components -> golden record per dup
# group. Same LSH-recall caveat as ngram_dup_pairs (the oracle closes over
# EXHAUSTIVE Jaccard pairs, so equality certifies recall 1.0 end to end),
# plus the CC + survivorship stages verified transitively in one hash.
# ---------------------------------------------------------------------------

@_q(
    "dedup_clusters",
    f"WITH RECURSIVE {_NGRAM_SH_CTE}, "
    "edges AS MATERIALIZED (SELECT a.doc_id AS u, b.doc_id AS v "
    "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7), "
    "sym AS MATERIALIZED (SELECT u, v FROM edges UNION SELECT v, u FROM edges), "
    "reach(a, b) AS ("
    "  SELECT DISTINCT u, u FROM sym "
    "  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u), "
    "clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a), "
    "j AS (SELECT cl.cluster_id, cl.doc_id, d.text, length(d.text) AS text_len "
    "  FROM clusters cl JOIN documents d USING (doc_id)), "
    "ranked AS (SELECT *, "
    "  row_number() OVER (PARTITION BY cluster_id ORDER BY text_len DESC, doc_id ASC) AS rn, "
    "  count(*) OVER (PARTITION BY cluster_id) AS n_members FROM j) "
    "SELECT cluster_id, doc_id AS rep_doc_id, text_len AS rep_text_len, "
    "text AS rep_text, CAST(n_members AS BIGINT) AS n_members "
    "FROM ranked WHERE rn = 1",
)
def dedup_clusters_q(spark, sf_dir):
    from .operators import dedup
    from .operators.clustering import connected_components, golden_records

    d = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup(d, "doc_id", "text", threshold=0.7)
    comp = connected_components(pairs.select("doc_id_a", "doc_id_b"))
    return golden_records(comp, d, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# Sessionization (r3): gap-based sessions over the events table
# (operators/sessions.py). The oracle runs the identical lag/cumsum window
# in DuckDB; session_stats additionally certifies that Spark's NATIVE
# session_window operator produces the same sessions as the window idiom
# (their agreement is also pytest-asserted in tests/test_sessions.py).
# ---------------------------------------------------------------------------

_SESS_GAP_S = 28800  # 8 h — ~half the fixture's inter-event gaps merge

_SESS_CTE = (
    "sb AS (SELECT event_id, user_id, ts, value, "
    "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL "
    f"  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {_SESS_GAP_S * 1_000_000} "
    "THEN 1 ELSE 0 END AS brk "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "sa AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING) AS session_no FROM sb)"
)


@_q(
    "sessionize_events",
    f"WITH {_SESS_CTE} SELECT event_id, user_id, "
    "CAST(session_no AS BIGINT) AS session_no, "
    "CAST(user_id AS VARCHAR) || '-' || CAST(session_no AS VARCHAR) AS session_id "
    "FROM sa",
)
def sessionize_events_q(spark, sf_dir):
    from .operators import sessions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessions.sessionize(ev, gap_s=_SESS_GAP_S).select(
        "event_id",
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        "session_id",
    )


@_q(
    "session_stats",
    f"WITH {_SESS_CTE} SELECT user_id, min(ts) AS session_start, "
    "count(*) AS session_events, "
    "(max(epoch_us(ts)) - min(epoch_us(ts))) / CAST(1000000 AS DOUBLE) AS duration_s, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM sa GROUP BY user_id, session_no",
)
def session_stats_q(spark, sf_dir):
    from .operators import sessions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessions.session_stats(ev, gap_s=_SESS_GAP_S)


# ---------------------------------------------------------------------------
# Decontamination (r3): corpus docs sharing token n-grams with a benchmark
# set (operators/decontam.py). Benchmark = doc_id % 37 == 0 (a stand-in
# eval set); n=3 because fixture docs are short (production uses 13) —
# 312 contaminated docs at sf0.01 vs 1 at n=5.
# ---------------------------------------------------------------------------

_DECON_CTE = (
    "dt AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents), "
    "dg AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
    "  ELSE list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) END AS grams FROM dt), "
    "bg AS (SELECT DISTINCT unnest(grams) AS gram FROM dg WHERE doc_id % 37 = 0), "
    "cg AS (SELECT doc_id, unnest(grams) AS gram FROM dg WHERE doc_id % 37 <> 0)"
)


@_q(
    "decontaminate",
    f"WITH {_DECON_CTE} "
    "SELECT doc_id, count(*) AS n_overlap FROM cg JOIN bg USING (gram) GROUP BY doc_id",
)
def decontaminate_q(spark, sf_dir):
    from .operators import decontam

    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 37 == 0)
    corpus = d.where(F.col("doc_id") % 37 != 0)
    return decontam.decontaminate(corpus, bench, n=3)


# ---------------------------------------------------------------------------
# Deterministic sampling + mixture weighting (r3, operators/sampling.py).
# The keep decision is the portable double-Lehmer hash, so the oracle
# reproduces every kept row; weights are exact double arithmetic on the
# (stratum, count) census, identical order of operations on both engines.
# ---------------------------------------------------------------------------

def _lehmer_sql(key: str, salt: int = 0) -> str:
    m, a = 2147483647, 48271
    x = f"(({key} + {salt}) % {m})"
    return (
        f"CAST((({x} * {a} % {m}) * {a} % {m}) AS DOUBLE) / CAST({m} AS DOUBLE)"
    )


@_q(
    "deterministic_sample",
    f"SELECT doc_id, lang FROM documents WHERE {_lehmer_sql('doc_id')} < CAST(0.2 AS DOUBLE)",
)
def deterministic_sample_q(spark, sf_dir):
    from .operators import sampling

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return sampling.deterministic_sample(d, "doc_id", 0.2)


_MIX_CTE = (
    "census AS (SELECT lang AS stratum, count(*) AS n_rows FROM documents GROUP BY lang), "
    "tot AS (SELECT sum(n_rows) AS total, count(*) AS n_strata FROM census), "
    "sh2 AS (SELECT stratum, n_rows, CAST(n_rows AS DOUBLE) / total AS obs, "
    "  CAST(1 AS DOUBLE) / n_strata AS tgt FROM census, tot), "
    "mx AS (SELECT max(tgt / obs) AS mr FROM sh2)"
)


@_q(
    "mixture_weights",
    f"WITH {_MIX_CTE} SELECT stratum, n_rows, round(obs, 9) AS observed_share, "
    "round(tgt, 9) AS target_share, round((tgt / obs) / mr, 9) AS weight FROM sh2, mx",
)
def mixture_weights_q(spark, sf_dir):
    from .operators import sampling

    return sampling.mixture_weights(_docs(spark, sf_dir), "lang")


@_q(
    "stratified_sample",
    f"WITH {_MIX_CTE}, w AS (SELECT stratum AS lang, round((tgt / obs) / mr, 9) AS weight FROM sh2, mx) "
    f"SELECT d.doc_id, d.lang FROM documents d JOIN w USING (lang) "
    f"WHERE {_lehmer_sql('d.doc_id')} < weight",
)
def stratified_sample_q(spark, sf_dir):
    from .operators import sampling

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return sampling.stratified_sample(d, "doc_id", "lang").select("doc_id", "lang")


# ---------------------------------------------------------------------------
# As-of join (r3, operators/asof.py): every event's most recent order at
# or before a probe timestamp. The DuckDB oracle uses the NATIVE ASOF
# LEFT JOIN, so this certifies the union/window implementation against an
# independent engine's as-of semantics (incl. the no-match null rows).
# Events live in 2024 and orders in 1995-2001, so the probe scatters each
# event's epoch-second into the order era with a Lehmer step (plain mod
# would collapse the one-month event range onto early 1995 -> 89% nulls).
# Right side deduped to one row per (cust, date) so tie rules can't
# differ between engines.
# ---------------------------------------------------------------------------

_ASOF_EPOCH_1995_US = 788918400000000
_ASOF_SPAN_S = 189216000  # ~6 years


@_q(
    "asof_join_orders",
    "WITH probe AS (SELECT event_id, user_id, make_timestamp("
    f"{_ASOF_EPOCH_1995_US} + ((epoch_us(ts) // 1000000) * 48271 % {_ASOF_SPAN_S}) * 1000000) AS probe_ts FROM events), "
    "ords AS (SELECT * FROM (SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice, "
    "  row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders) WHERE rn = 1) "
    # no-match rows carry NULLs: under the driver's pandas .df()
    # collection a NULL coerces the BIGINT key column to float64 ("1.0"
    # vs Spark "1") and a NULL timestamp to NaT — the r5 type-path class.
    # Render the timestamp as VARCHAR (NULL survives in object dtype)
    # and sentinel the numerics; identical on the Spark side.
    "SELECT p.event_id, p.user_id, "
    "strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS asof_o_orderdate, "
    "coalesce(o.o_orderkey, -1) AS asof_o_orderkey, "
    "coalesce(o.o_totalprice, -1.0) AS asof_o_totalprice "
    "FROM probe p ASOF LEFT JOIN ords o "
    "ON p.user_id = o.user_id AND p.probe_ts >= o.o_orderdate",
)
def asof_join_orders_q(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    secs = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    probe = ev.select(
        "event_id",
        "user_id",
        F.timestamp_micros(
            F.lit(_ASOF_EPOCH_1995_US)
            + (secs * 48271 % _ASOF_SPAN_S) * 1_000_000
        ).alias("probe_ts"),
    )
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    ords = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    j = asof_join(
        probe, ords, "user_id", "probe_ts", "o_orderdate", tiebreak="o_orderkey"
    ).drop("probe_ts")
    # mirror the oracle's NULL handling (see the SQL note above)
    return j.select(
        "event_id",
        "user_id",
        F.date_format("asof_o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "asof_o_orderdate"
        ),
        F.coalesce("asof_o_orderkey", F.lit(-1)).alias("asof_o_orderkey"),
        F.coalesce("asof_o_totalprice", F.lit(-1.0)).alias("asof_o_totalprice"),
    )


@_q(
    "stream_session_stats",
    # the batch session_stats twin RESTRICTED to closed sessions: session
    # windows stream in APPEND mode only, emitting a session when the
    # watermark (here max event ts, 0s delay) passes last_event + gap —
    # i.e. every session except the one holding the globally-latest event.
    # The HAVING clause is that emission rule, verbatim.
    f"WITH {_SESS_CTE} SELECT user_id, min(ts) AS session_start, "
    "count(*) AS session_events, "
    "(max(epoch_us(ts)) - min(epoch_us(ts))) / CAST(1000000 AS DOUBLE) AS duration_s, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM sa GROUP BY user_id, session_no "
    f"HAVING max(epoch_us(ts)) + {_SESS_GAP_S * 1_000_000} "
    "<= (SELECT max(epoch_us(ts)) FROM events)",
)
def stream_session_stats_q(spark, sf_dir):
    from .streaming.incremental import run_stream_to_memory, streaming_session_stats

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = streaming_session_stats(stream, gap_s=_SESS_GAP_S, watermark="0 seconds")
    return run_stream_to_memory(
        spark, agg, "stream_session_stats_sink", output_mode="append"
    )


# ---------------------------------------------------------------------------
# r3: linkage quality, meta-blocking, Fellegi–Sunter, BM25
# ---------------------------------------------------------------------------

# Pairwise evaluation of the ER matcher against an independent truth set:
# truth = n-gram-Jaccard >= 0.7 near-dup pairs (the ngram_dup_pairs
# relation), pred = er_matches. tp/fp/fn are exact longs; the ratios are
# single divisions of those longs.
@_q(
    "er_eval",
    f"WITH {_ER_SCORED_CTE}, {_NGRAM_SH_CTE}, "
    f"pred AS (SELECT doc_id_a, doc_id_b FROM er_scored WHERE {_ER_MATCH_COND}), "
    "truth AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7), "
    "j AS (SELECT p.doc_id_a AS pa, t.doc_id_a AS ta FROM pred p "
    "  FULL OUTER JOIN truth t ON p.doc_id_a = t.doc_id_a AND p.doc_id_b = t.doc_id_b), "
    "c AS (SELECT count(CASE WHEN pa IS NOT NULL AND ta IS NOT NULL THEN 1 END) AS tp, "
    "  count(CASE WHEN pa IS NOT NULL AND ta IS NULL THEN 1 END) AS fp, "
    "  count(CASE WHEN ta IS NOT NULL AND pa IS NULL THEN 1 END) AS fn FROM j) "
    "SELECT tp, fp, fn, "
    "round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS precision, "
    "round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall, "
    "round(CAST(2 * tp AS DOUBLE) / greatest(2 * tp + fp + fn, 1), 6) AS f1 FROM c",
)
def er_eval_q(spark, sf_dir):
    from .operators import evaluation

    pred = er_matches(spark, sf_dir)
    truth = ngram_dup_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return evaluation.pairwise_confusion(pred, truth)


# Threshold sweep: P/R/F1 of "match iff score >= t" for EVERY quantized
# threshold t in one job (the threshold-tuning loop without re-running the
# matcher). Truth pairs outside the candidate set are charged as fn at
# every threshold.
@_q(
    "er_threshold_sweep",
    f"WITH {_ER_SCORED_CTE}, {_NGRAM_SH_CTE}, "
    "scored AS (SELECT doc_id_a, doc_id_b, "
    "  CAST(floor((0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard) * 100) AS BIGINT) AS threshold_pct "
    "  FROM er_scored), "
    "truth AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7), "
    "tot AS (SELECT count(*) AS total_pos FROM truth), "
    "lab AS (SELECT s.threshold_pct, CASE WHEN t.doc_id_a IS NOT NULL THEN 1 ELSE 0 END AS is_pos "
    "  FROM scored s LEFT JOIN truth t ON s.doc_id_a = t.doc_id_a AND s.doc_id_b = t.doc_id_b), "
    "buck AS (SELECT threshold_pct, count(*) AS n_all, CAST(sum(is_pos) AS BIGINT) AS n_pos "
    "  FROM lab GROUP BY threshold_pct), "
    "cum AS (SELECT threshold_pct, "
    "  CAST(sum(n_all) OVER (ORDER BY threshold_pct DESC) AS BIGINT) AS n_pred, "
    "  CAST(sum(n_pos) OVER (ORDER BY threshold_pct DESC) AS BIGINT) AS tp FROM buck) "
    "SELECT threshold_pct, n_pred, tp, n_pred - tp AS fp, total_pos - tp AS fn, "
    "round(CAST(tp AS DOUBLE) / greatest(n_pred, 1), 6) AS precision, "
    "round(CAST(tp AS DOUBLE) / greatest(total_pos, 1), 6) AS recall, "
    "round(CAST(2 * tp AS DOUBLE) / greatest(2 * tp + (n_pred - tp) + (total_pos - tp), 1), 6) AS f1 "
    "FROM cum CROSS JOIN tot",
)
def er_threshold_sweep_q(spark, sf_dir):
    from .operators import evaluation

    s = _er_scored_frame(spark, sf_dir)
    scored = s.select(
        "doc_id_a",
        "doc_id_b",
        (
            _er_score()
        ).alias("score"),
    )
    truth = ngram_dup_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return evaluation.threshold_sweep(scored, truth)


@_q(
    "er_cluster_stats",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    "sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id) "
    "SELECT cluster_size, count(*) AS n_clusters, cluster_size * count(*) AS n_docs "
    "FROM sizes GROUP BY cluster_size",
)
def er_cluster_stats_q(spark, sf_dir):
    from .operators import evaluation

    return evaluation.cluster_size_stats(er_clusters(spark, sf_dir))


# Blocking skew diagnostics over the er keys frame: per-pass block counts,
# the largest block, and the candidate-pair mass sum(s*(s-1)/2) split into
# total vs hot (> cap) — the quantity that explodes at 100 TB when a key
# degenerates. Cap mirrors blocking.DEFAULT_MAX_BLOCK_SIZE.
@_q(
    "blocking_census",
    f"WITH {_ER_KEYS_CTE}, "
    "census AS (SELECT pass, block_key, count(*) AS sz FROM er_keys GROUP BY pass, block_key) "
    "SELECT pass, count(*) AS n_blocks, CAST(sum(sz) AS BIGINT) AS n_keys, max(sz) AS max_block, "
    "CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS pair_mass, "
    "count(CASE WHEN sz > 50 THEN 1 END) AS hot_blocks, "
    "CAST(coalesce(sum(CASE WHEN sz > 50 THEN (sz * (sz - 1)) // 2 END), 0) AS BIGINT) AS hot_pair_mass "
    "FROM census GROUP BY pass",
)
def blocking_census_q(spark, sf_dir):
    from .operators import evaluation

    _, keys, _ = _er_frames(spark, sf_dir)
    return evaluation.blocking_census(keys, max_block_size=50)


# Meta-blocking (Papadakis et al.): CBS-weighted blocking graph + WEP
# pruning. Edges surviving the global-mean threshold carry their CBS and
# block-set Jaccard; the mean check is cross-multiplied so it stays in
# exact integer arithmetic on both engines.
@_q(
    "meta_blocking_wep",
    f"WITH {_ER_KEYS_CTE}, "
    "edges AS MATERIALIZED (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS cbs "
    "  FROM er_keys a JOIN er_keys b ON a.pass = b.pass AND a.block_key = b.block_key "
    "  AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), "
    "nbc AS (SELECT doc_id, count(*) AS nb FROM er_keys GROUP BY doc_id), "
    "we AS (SELECT e.doc_id_a, e.doc_id_b, e.cbs, "
    "  CAST(e.cbs AS DOUBLE) / CAST(na.nb + nbb.nb - e.cbs AS DOUBLE) AS jaccard "
    "  FROM edges e JOIN nbc na ON e.doc_id_a = na.doc_id JOIN nbc nbb ON e.doc_id_b = nbb.doc_id), "
    "st AS (SELECT sum(cbs) AS cbs_sum, count(*) AS n_edges FROM we) "
    "SELECT doc_id_a, doc_id_b, cbs, jaccard FROM we, st "
    "WHERE cbs * n_edges >= cbs_sum",
)
def meta_blocking_wep_q(spark, sf_dir):
    from .operators import metablocking

    _, keys, _ = _er_frames(spark, sf_dir)
    return metablocking.wep_prune(metablocking.block_graph_edges(keys))


# Block Filtering (record-local comparison trimming): each record keeps
# its ceil(1/2 * |blocks|) smallest blocks. Rank and bound are exact
# integers ((rn-1)*den < nb*num), so both engines cut identically.
@_q(
    "block_filter_keys",
    f"WITH {_ER_KEYS_CTE}, "
    "bf_census AS (SELECT pass, block_key, count(*) AS sz FROM er_keys GROUP BY pass, block_key), "
    "bf_k AS (SELECT e.doc_id, e.pass, e.block_key, c.sz FROM er_keys e "
    "  JOIN bf_census c ON e.pass = c.pass AND e.block_key = c.block_key), "
    "bf_r AS (SELECT doc_id, pass, block_key, "
    "  row_number() OVER (PARTITION BY doc_id ORDER BY sz, pass, block_key) AS rn, "
    "  count(*) OVER (PARTITION BY doc_id) AS nb FROM bf_k) "
    "SELECT doc_id, pass, block_key FROM bf_r WHERE (rn - 1) * 2 < nb * 1",
)
def block_filter_keys_q(spark, sf_dir):
    from .operators import metablocking

    _, keys, _ = _er_frames(spark, sf_dir)
    return metablocking.block_filter(keys, num=1, den=2)


# Progressive ER (pay-as-you-go): comparisons scheduled best-evidence-
# first (block-set jaccard desc), reported as a 10-slice cumulative
# recall curve against the full run's accepted matches. The jaccard
# weight is one division of exact ints (correctly-rounded IEEE on both
# engines) so the global order — and therefore every slice — agrees.
@_q(
    "progressive_recall_curve",
    f"WITH {_ER_SCORED_CTE}, "
    "pg_edges AS MATERIALIZED (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS cbs "
    "  FROM er_keys a JOIN er_keys b ON a.pass = b.pass AND a.block_key = b.block_key "
    "  AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), "
    "pg_nbc AS (SELECT doc_id, count(*) AS nb FROM er_keys GROUP BY doc_id), "
    "pg_we AS (SELECT e.doc_id_a, e.doc_id_b, "
    "  CAST(e.cbs AS DOUBLE) / CAST(na.nb + nbb.nb - e.cbs AS DOUBLE) AS jaccard "
    "  FROM pg_edges e JOIN pg_nbc na ON e.doc_id_a = na.doc_id "
    "  JOIN pg_nbc nbb ON e.doc_id_b = nbb.doc_id), "
    "pg_rk AS (SELECT doc_id_a, doc_id_b, "
    "  row_number() OVER (ORDER BY jaccard DESC, doc_id_a, doc_id_b) AS g FROM pg_we), "
    "pg_tot AS (SELECT count(*) AS n FROM pg_rk), "
    f"pg_mt AS (SELECT doc_id_a, doc_id_b FROM er_scored WHERE {_ER_MATCH_COND}), "
    "pg_nm AS (SELECT count(*) AS m FROM pg_mt), "
    "pg_tg AS (SELECT ((r.g * 10 + t.n - 1) // t.n) AS bucket, "
    "  CASE WHEN mt.doc_id_a IS NOT NULL THEN 1 ELSE 0 END AS is_match "
    "  FROM pg_rk r CROSS JOIN pg_tot t LEFT JOIN pg_mt mt "
    "  ON r.doc_id_a = mt.doc_id_a AND r.doc_id_b = mt.doc_id_b), "
    "pg_per AS (SELECT bucket, count(*) AS pairs, sum(is_match) AS m FROM pg_tg GROUP BY bucket) "
    "SELECT bucket, CAST(sum(pairs) OVER w AS BIGINT) AS cum_pairs, "
    "CAST(sum(m) OVER w AS BIGINT) AS cum_matches, "
    "CASE WHEN (SELECT m FROM pg_nm) = 0 THEN 0.0 "
    "  ELSE CAST(sum(m) OVER w AS DOUBLE) / CAST((SELECT m FROM pg_nm) AS DOUBLE) "
    "END AS recall "
    "FROM pg_per WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
)
def progressive_recall_curve_q(spark, sf_dir):
    from .operators import metablocking

    _, keys, _ = _er_frames(spark, sf_dir)
    edges = metablocking.block_graph_edges(keys)
    m = er_matches(spark, sf_dir)
    return metablocking.progressive_decile_recall(edges, m, n_buckets=10)


# Fellegi–Sunter m/u estimation over candidate pairs, labeled by the
# transitive clusters (same-cluster = match). Keep the CASE thresholds in
# lock-step with fellegi_sunter.DEFAULT_BINS.
_FS_FEATURES = ["jw", "tok_jaccard", "lev_ratio"]
_FS_LVL_SQL = (
    "CASE WHEN jw >= 0.95 THEN 2 WHEN jw >= 0.85 THEN 1 ELSE 0 END AS jw_lvl, "
    "CASE WHEN tok_jaccard >= 0.6 THEN 2 WHEN tok_jaccard >= 0.3 THEN 1 ELSE 0 END AS tok_jaccard_lvl, "
    "CASE WHEN lev_ratio >= 0.75 THEN 2 WHEN lev_ratio >= 0.5 THEN 1 ELSE 0 END AS lev_ratio_lvl"
)

_FS_WEIGHTS_CTE = (
    _ER_CLUSTERS_CTE
    + ", lab AS (SELECT s.*, (ca.cluster_id = cb.cluster_id) AS is_match "
    "FROM er_scored s JOIN clusters ca ON s.doc_id_a = ca.doc_id "
    "JOIN clusters cb ON s.doc_id_b = cb.doc_id), "
    f"lvl AS (SELECT is_match, {_FS_LVL_SQL} FROM lab), "
    "melted AS ("
    "  SELECT is_match, 'jw' AS feature, jw_lvl AS level FROM lvl "
    "  UNION ALL SELECT is_match, 'tok_jaccard', tok_jaccard_lvl FROM lvl "
    "  UNION ALL SELECT is_match, 'lev_ratio', lev_ratio_lvl FROM lvl), "
    "counts AS (SELECT feature, level, "
    "  count(CASE WHEN is_match THEN 1 END) AS c_m, "
    "  count(CASE WHEN NOT is_match THEN 1 END) AS c_u FROM melted GROUP BY feature, level), "
    "totals AS (SELECT feature, sum(c_m) AS n_m, sum(c_u) AS n_u FROM counts GROUP BY feature), "
    "grid AS (SELECT t.feature, g.level, t.n_m, t.n_u, "
    "  coalesce(c.c_m, 0) AS c_m, coalesce(c.c_u, 0) AS c_u "
    "  FROM totals t CROSS JOIN (SELECT unnest(range(3)) AS level) g "
    "  LEFT JOIN counts c ON c.feature = t.feature AND c.level = g.level), "
    "fs_weights AS (SELECT feature, CAST(level AS INT) AS level, "
    "  CAST(c_m + 1 AS DOUBLE) / CAST(n_m + 3 AS DOUBLE) AS m_prob, "
    "  CAST(c_u + 1 AS DOUBLE) / CAST(n_u + 3 AS DOUBLE) AS u_prob, "
    "  floor(log2((CAST(c_m + 1 AS DOUBLE) / CAST(n_m + 3 AS DOUBLE)) "
    "    / (CAST(c_u + 1 AS DOUBLE) / CAST(n_u + 3 AS DOUBLE))) * 1000000) / 1000000 AS weight "
    "FROM grid)"
)


def _fs_levels_and_labels(spark, sf_dir):
    from .operators import fellegi_sunter as FS

    scored = _er_scored_frame(spark, sf_dir)
    levels = FS.agreement_levels(scored)
    cl = er_clusters(spark, sf_dir)
    ca = cl.select(F.col("doc_id").alias("doc_id_a"), F.col("cluster_id").alias("cl_a"))
    cb = cl.select(F.col("doc_id").alias("doc_id_b"), F.col("cluster_id").alias("cl_b"))
    labels = (
        scored.select("doc_id_a", "doc_id_b")
        .join(ca, "doc_id_a")
        .join(cb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (F.col("cl_a") == F.col("cl_b")).alias("is_match"),
        )
    )
    return levels, labels


@_q(
    "fs_weights",
    f"WITH RECURSIVE {_FS_WEIGHTS_CTE} "
    "SELECT feature, level, m_prob, u_prob, weight FROM fs_weights",
)
def fs_weights_q(spark, sf_dir):
    from .operators import fellegi_sunter as FS

    levels, labels = _fs_levels_and_labels(spark, sf_dir)
    return FS.estimate_mu_supervised(levels, labels, _FS_FEATURES)


@_q(
    "fs_match_weights",
    f"WITH RECURSIVE {_FS_WEIGHTS_CTE}, "
    f"plvl AS (SELECT doc_id_a, doc_id_b, {_FS_LVL_SQL} FROM er_scored) "
    "SELECT p.doc_id_a, p.doc_id_b, p.jw_lvl, p.tok_jaccard_lvl, p.lev_ratio_lvl, "
    "wj.weight + wt.weight + wl.weight AS fs_weight "
    "FROM plvl p "
    "JOIN fs_weights wj ON wj.feature = 'jw' AND wj.level = p.jw_lvl "
    "JOIN fs_weights wt ON wt.feature = 'tok_jaccard' AND wt.level = p.tok_jaccard_lvl "
    "JOIN fs_weights wl ON wl.feature = 'lev_ratio' AND wl.level = p.lev_ratio_lvl",
)
def fs_match_weights_q(spark, sf_dir):
    from .operators import fellegi_sunter as FS

    levels, labels = _fs_levels_and_labels(spark, sf_dir)
    weights = FS.estimate_mu_supervised(levels, labels, _FS_FEATURES)
    return FS.match_weights(levels, weights, _FS_FEATURES)


# Repeated k-gram spans (Lee et al. 2022 substring dedup, DataFrame
# form): corpus-wide 5-gram census -> duplicated positions -> maximal
# merged spans per doc, plus the per-doc duplicated-token coverage
# signal. operators/dedup.py repeated_kgram_spans / repeated_kgram_stats.
@_q(
    "dup_span_detect",
    "WITH "
    + flatdocs.CANON_CTE
    + ", "
    + repeated_kgram_spans_sql(k=5, min_count=2)
    + " SELECT doc_id, span_start, span_end, n_grams FROM dup_spans",
)
def dup_span_detect_q(spark, sf_dir):
    from .operators import dedup

    return dedup.repeated_kgram_spans(_canon(spark, sf_dir), k=5, min_count=2)


@_q(
    "dup_span_stats",
    "WITH "
    + flatdocs.CANON_CTE
    + ", "
    + repeated_kgram_stats_sql(k=5, min_count=2)
    + " SELECT doc_id, n_toks, dup_tokens, dup_ratio FROM dup_stats",
)
def dup_span_stats_q(spark, sf_dir):
    from .operators import dedup

    return dedup.repeated_kgram_stats(_canon(spark, sf_dir), k=5, min_count=2)


# Unsupervised Fellegi–Sunter: EM over the agreement-pattern contingency
# table (no labels anywhere). The Spark side reduces candidate pairs to
# <=3^3 pattern counts (the sufficient statistic) and runs EM driver-side
# on the sorted table (fellegi_sunter.em_estimate_mu); the oracle UNROLLS
# the same 30 EM iterations in SQL with ordered list folds, so the whole
# unsupervised training loop is value-hash-checked bit-for-bit.
_FS_EM_ITER = 30
_FS_PAT_CTE = (
    _ER_SCORED_CTE
    + f", lvl AS (SELECT {_FS_LVL_SQL} FROM er_scored), "
    "pat AS (SELECT jw_lvl, tok_jaccard_lvl, lev_ratio_lvl, count(*) AS n_pairs "
    "FROM lvl GROUP BY jw_lvl, tok_jaccard_lvl, lev_ratio_lvl)"
)


def fellegi_sunter_em_sql_ctes() -> str:
    from .operators import fellegi_sunter as FS

    return FS.em_weights_sql_ctes(_FS_FEATURES, n_iter=_FS_EM_ITER)


def _fs_em_weights_frame(spark, sf_dir):
    from .operators import fellegi_sunter as FS

    levels, _ = _fs_levels_and_labels(spark, sf_dir)
    pat = FS.pattern_counts(levels, _FS_FEATURES)
    rows = [tuple(r) for r in pat.collect()]  # <= 27 rows: sufficient stats
    em = FS.em_estimate_mu(rows, _FS_FEATURES, n_iter=_FS_EM_ITER)
    return levels, FS.em_weights_frame(spark, em, _FS_FEATURES)


@_q(
    "fs_em_weights",
    "WITH "
    + _FS_PAT_CTE
    + ", "
    + fellegi_sunter_em_sql_ctes()
    + " SELECT feature, level, m_prob, u_prob, weight FROM em_weights",
)
def fs_em_weights_q(spark, sf_dir):
    _, weights = _fs_em_weights_frame(spark, sf_dir)
    return weights


@_q(
    "fs_em_match_weights",
    "WITH "
    + _FS_PAT_CTE
    + ", "
    + fellegi_sunter_em_sql_ctes()
    + f", plvl AS (SELECT doc_id_a, doc_id_b, {_FS_LVL_SQL} FROM er_scored) "
    "SELECT p.doc_id_a, p.doc_id_b, p.jw_lvl, p.tok_jaccard_lvl, p.lev_ratio_lvl, "
    "wj.weight + wt.weight + wl.weight AS fs_weight "
    "FROM plvl p "
    "JOIN em_weights wj ON wj.feature = 'jw' AND wj.level = p.jw_lvl "
    "JOIN em_weights wt ON wt.feature = 'tok_jaccard' AND wt.level = p.tok_jaccard_lvl "
    "JOIN em_weights wl ON wl.feature = 'lev_ratio' AND wl.level = p.lev_ratio_lvl",
)
def fs_em_match_weights_q(spark, sf_dir):
    from .operators import fellegi_sunter as FS

    levels, weights = _fs_em_weights_frame(spark, sf_dir)
    return FS.match_weights(levels, weights, _FS_FEATURES)


# BM25 ranked retrieval over the documents table (fixed query terms from
# the synthetic vocabulary).
_BM25_TERMS = ["spark", "table", "query"]

from .functions import ranking as _ranking  # noqa: E402


@_q("bm25_topk", _ranking.bm25_sql(_BM25_TERMS, k=20))
def bm25_topk_q(spark, sf_dir):
    return _ranking.bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=20)


# ---------------------------------------------------------------------------
# r3: phonetic blocking (portable Soundex, functions/phonetic.py)
# ---------------------------------------------------------------------------

from .functions import phonetic as _phonetic  # noqa: E402

_SDX_CAP = 50


@_q(
    "soundex_blocks",
    f"WITH {flatdocs.CANON_CTE}, sdx AS ({_phonetic.phonetic_pass_sql()}) "
    "SELECT block_key, count(*) AS n_docs, min(doc_id) AS min_doc, "
    "max(doc_id) AS max_doc FROM sdx GROUP BY block_key",
)
def soundex_blocks_q(spark, sf_dir):
    sdx = _phonetic.phonetic_pass(_canon(spark, sf_dir))
    return sdx.groupBy("block_key").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@_q(
    "phonetic_pairs",
    f"WITH {flatdocs.CANON_CTE}, sdx AS ({_phonetic.phonetic_pass_sql()}), "
    "census AS (SELECT block_key, count(*) AS sz FROM sdx GROUP BY block_key), "
    f"cold AS (SELECT s.doc_id, s.block_key FROM sdx s JOIN census c "
    f"ON s.block_key = c.block_key WHERE c.sz <= {_SDX_CAP}) "
    "SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.block_key "
    "FROM cold a JOIN cold b ON a.block_key = b.block_key AND a.doc_id < b.doc_id",
)
def phonetic_pairs_q(spark, sf_dir):
    return _phonetic.phonetic_candidate_pairs(
        _canon(spark, sf_dir), max_block_size=_SDX_CAP
    )


# ---------------------------------------------------------------------------
# r3: exact set-similarity join, prefix-filtered (operators/setsim.py)
# ---------------------------------------------------------------------------

from .operators import setsim as _setsim  # noqa: E402


@_q(
    "setsim_join",
    # the oracle is the DEFINITION (exhaustive all-pairs Jaccard); the
    # Spark side must reproduce it exactly through prefix filtering
    f"WITH {flatdocs.CANON_CTE} SELECT * FROM ({_setsim.ppjoin_sql(0.6)})",
)
def setsim_join_q(spark, sf_dir):
    return _setsim.ppjoin_pairs(_canon(spark, sf_dir), threshold=0.6)


@_q(
    "tfidf_cosine_join",
    f"WITH {flatdocs.CANON_CTE} SELECT * FROM ({_setsim.tfidf_cosine_sql(0.4, 100)})",
)
def tfidf_cosine_join_q(spark, sf_dir):
    return _setsim.tfidf_cosine_pairs(_canon(spark, sf_dir), threshold=0.4, max_df=100)


# ---------------------------------------------------------------------------
# r3: OLAP rollup/cube (multi-level aggregation — Catalyst Expand) and
# column profiling (operators/profiling.py)
# ---------------------------------------------------------------------------

@_q(
    "rollup_revenue",
    "SELECT c_mktsegment, o_orderstatus, "
    "GROUPING(c_mktsegment) AS g_seg, GROUPING(o_orderstatus) AS g_st, "
    "count(*) AS n_orders, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY ROLLUP (c_mktsegment, o_orderstatus)",
)
def rollup_revenue_q(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .rollup("c_mktsegment", "o_orderstatus")
        .agg(
            F.grouping("c_mktsegment").cast("long").alias("g_seg"),
            F.grouping("o_orderstatus").cast("long").alias("g_st"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@_q(
    "cube_lineitem_counts",
    "SELECT l_returnflag, l_linestatus, "
    "GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls, "
    "count(*) AS n_items, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)",
)
def cube_lineitem_counts_q(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
    )


from .operators import profiling as _profiling  # noqa: E402

_PROFILE_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
_PROFILE_NUMERIC = {"c_custkey", "c_nationkey", "c_acctbal"}


# metric-not-applicable NULLs → NaN sentinels in the registry projection
# only (the operator keeps NULL semantics): a NULL in a DOUBLE column
# renders "nan" ≠ "NULL" under the driver's pandas .df() collection (the
# r5 type-path class); NaN renders "nan" on BOTH engines and collides
# with no real metric value.
_PROFILE_NAN_WRAP = (
    'SELECT "column", n_rows, n_null, n_distinct, '
    "coalesce(min_num, CAST('nan' AS DOUBLE)) AS min_num, "
    "coalesce(max_num, CAST('nan' AS DOUBLE)) AS max_num, "
    "coalesce(avg_len, CAST('nan' AS DOUBLE)) AS avg_len FROM ({inner})"
)


@_q(
    "profile_customer",
    _PROFILE_NAN_WRAP.format(
        inner=_profiling.profile_sql("customer", _PROFILE_COLS, _PROFILE_NUMERIC)
    ),
)
def profile_customer_q(spark, sf_dir):
    prof = _profiling.profile(
        spark.read.parquet(f"{sf_dir}/customer.parquet"), _PROFILE_COLS
    )
    nan = F.lit(float("nan"))
    return prof.select(
        "column",
        "n_rows",
        "n_null",
        "n_distinct",
        F.coalesce("min_num", nan).alias("min_num"),
        F.coalesce("max_num", nan).alias("max_num"),
        F.coalesce("avg_len", nan).alias("avg_len"),
    )


# ---------------------------------------------------------------------------
# r3: window frames, exact percentiles, date functions — the generic-OLAP
# analytics surface SURVEY §2 lists as absent from the reference
# (no window frames, no numeric/date functions).
# ---------------------------------------------------------------------------

@_q(
    "events_moving_avg",
    # ROWS frame over a deterministic total order (ts, event_id); decimal
    # sum keeps the frame aggregate IEEE-order-independent across engines.
    "SELECT event_id, user_id, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) "
    "  / count(*) OVER w AS mov_avg_7, "
    "count(*) OVER w AS n_in_frame "
    "FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)",
)
def events_moving_avg_q(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("mov_avg_7"),
        F.count("*").over(w).alias("n_in_frame"),
    )


@_q(
    "orders_quartiles",
    # Exact (interpolating) quartiles over integer cents: every interpolation
    # a + f*(b-a) with f in {0,.25,.5,.75} and integer a,b is exact in
    # binary64, so Spark and DuckDB agree bit-for-bit; /100.0 of identical
    # doubles stays identical.
    "SELECT o_orderpriority, "
    "quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.25) / 100.0 AS p25, "
    "quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.50) / 100.0 AS p50, "
    "quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.75) / 100.0 AS p75, "
    "count(*) AS n_orders "
    "FROM orders GROUP BY o_orderpriority",
)
def orders_quartiles_q(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.groupBy("o_orderpriority").agg(
        (F.percentile(cents, F.lit(0.25)) / 100.0).alias("p25"),
        (F.percentile(cents, F.lit(0.50)) / 100.0).alias("p50"),
        (F.percentile(cents, F.lit(0.75)) / 100.0).alias("p75"),
        F.count("*").alias("n_orders"),
    )


@_q(
    "orders_monthly",
    # month_start rendered as yyyy-MM-dd VARCHAR on BOTH engines: the
    # driver collects the oracle via pandas .df(), which renders DATE as
    # Timestamp('... 00:00:00') while Spark dates render 'yyyy-MM-dd' —
    # same latent-hash-mismatch class as the HUGEINT twins (VERDICT r4).
    "SELECT strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d') AS month_start, "
    "CAST(year(o_orderdate) AS BIGINT) AS y, "
    "CAST(month(o_orderdate) AS BIGINT) AS m, "
    "CAST(max(day(o_orderdate)) AS BIGINT) AS last_day_seen, "
    "count(*) AS n_orders, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM orders GROUP BY 1, 2, 3 ",
)
def orders_monthly_q(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month_start"
            ),
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(
            F.max(F.dayofmonth("o_orderdate")).cast("long").alias("last_day_seen"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# PPRL — privacy-preserving record linkage over CLK Bloom encodings
# (operators/pprl.py). Two-party fixture: party A = customer
# quasi-identifiers (name+address+phone, the classic PPRL domain), party
# B = the same records with one character deleted (a deterministic typo
# both engines compute identically). Records are linked WITHOUT ever
# joining on plaintext — only on Bloom-filter bit overlap (Dice).
# ---------------------------------------------------------------------------

_PPRL_QID_SQL = (
    "lower(concat_ws(' ', c_name, c_mktsegment, "
    "CAST(c_nationkey AS VARCHAR), "
    "CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR)))"
)
_PPRL_PARTIES_CTE = (
    "qids AS (SELECT c_custkey, "
    + _PPRL_QID_SQL
    + " AS qid FROM customer WHERE c_custkey % 5 = 0), "
    "parties AS (SELECT c_custkey * 2 AS rec_id, qid FROM qids "
    "UNION ALL SELECT c_custkey * 2 + 1, substr(qid, 1, length(qid) - 3) FROM qids)"
)


def _pprl_parties(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_custkey") % 5 == 0
    )
    qid = F.lower(
        F.concat_ws(
            " ",
            F.col("c_name"),
            F.col("c_mktsegment"),
            F.col("c_nationkey").cast("string"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string"),
        )
    )
    base = cust.select("c_custkey", qid.alias("qid"))
    a = base.select((F.col("c_custkey") * 2).alias("rec_id"), "qid")
    typo = F.substring(F.col("qid"), F.lit(1), F.length("qid") - 3)
    b = base.select((F.col("c_custkey") * 2 + 1).alias("rec_id"), typo.alias("qid"))
    return a.unionByName(b)


@_q(
    "pprl_dice_pairs",
    pprl.dice_pairs_sql(
        0.93,
        canon_rel="parties",
        extra_ctes=_PPRL_PARTIES_CTE,
        id_col="rec_id",
        text_col="qid",
        qgram=2,
    ),
)
def pprl_dice_pairs_q(spark, sf_dir):
    return pprl.dice_pairs(
        _pprl_parties(spark, sf_dir),
        threshold=0.93,
        id_col="rec_id",
        text_col="qid",
        qgram=2,
    )


@_q(
    "pprl_hlsh_dice",
    pprl.hlsh_dice_pairs_sql(
        0.93,
        n_tables=8,
        bits_per_key=12,
        canon_rel="parties",
        extra_ctes=_PPRL_PARTIES_CTE,
        id_col="rec_id",
        text_col="qid",
        qgram=2,
    ),
)
def pprl_hlsh_dice_q(spark, sf_dir):
    return pprl.hlsh_dice_pairs(
        _pprl_parties(spark, sf_dir),
        threshold=0.93,
        n_tables=8,
        bits_per_key=12,
        id_col="rec_id",
        text_col="qid",
        qgram=2,
    )


# ---------------------------------------------------------------------------
# SCD2 interval assembly (r3, operators/scd.py): per-user event_type change
# history as half-open [valid_from, valid_to) versions, plus a point-in-
# time snapshot. Oracle runs the identical lag/cumsum/lead gaps-and-
# islands assembly in DuckDB; ties order by (ts, event_id) on both sides.
# ---------------------------------------------------------------------------

_SCD2_CTE = (
    "sb AS (SELECT user_id AS entity, event_type AS attr_value, ts, event_id, "
    "CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "sv AS (SELECT *, sum(chg) OVER (PARTITION BY entity ORDER BY ts, event_id "
    "ROWS UNBOUNDED PRECEDING) AS version FROM sb), "
    "runs AS (SELECT entity, CAST(version AS BIGINT) AS version, "
    "min(attr_value) AS attr_value, min(ts) AS valid_from, "
    "count(*) AS n_events FROM sv GROUP BY entity, version), "
    "scd2 AS (SELECT entity, attr_value, version, valid_from, "
    "lead(valid_from) OVER wv AS valid_to, n_events, "
    "lead(valid_from) OVER wv IS NULL AS is_current "
    "FROM runs WINDOW wv AS (PARTITION BY entity ORDER BY version))"
)


# valid_to is NULL on current rows — under the driver's pandas .df()
# collection a NULL timestamp becomes NaT ("NaT" ≠ "NULL", the r5
# type-path class). Registry projections render both interval bounds as
# microsecond VARCHAR on BOTH engines; NULL survives (object dtype).
_SCD2_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S.%f"
_SCD2_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_SCD2_STR_SELECT = (
    "SELECT entity, attr_value, version, "
    f"strftime(valid_from, '{_SCD2_TS_FMT_SQL}') AS valid_from, "
    f"strftime(valid_to, '{_SCD2_TS_FMT_SQL}') AS valid_to, "
    "n_events, is_current FROM scd2"
)


def _scd2_stringify(dim):
    return dim.select(
        "entity",
        "attr_value",
        "version",
        F.date_format("valid_from", _SCD2_TS_FMT_SPARK).alias("valid_from"),
        F.date_format("valid_to", _SCD2_TS_FMT_SPARK).alias("valid_to"),
        "n_events",
        "is_current",
    )


@_q(
    "scd2_intervals",
    f"WITH {_SCD2_CTE} {_SCD2_STR_SELECT}",
)
def scd2_intervals_q(spark, sf_dir):
    from .operators import scd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _scd2_stringify(
        scd.scd2_assemble(
            ev, "user_id", "event_type", ts_col="ts", tiebreak_col="event_id"
        )
    )


_SCD2_AT = "2024-06-15 00:00:00"


@_q(
    "scd2_snapshot",
    f"WITH {_SCD2_CTE} {_SCD2_STR_SELECT} "
    f"WHERE valid_from <= TIMESTAMP '{_SCD2_AT}' "
    f"AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SCD2_AT}')",
)
def scd2_snapshot_q(spark, sf_dir):
    from .operators import scd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = scd.scd2_assemble(
        ev, "user_id", "event_type", ts_col="ts", tiebreak_col="event_id"
    )
    return _scd2_stringify(scd.scd2_snapshot(dim, _SCD2_AT))


# ---------------------------------------------------------------------------
# Bucketed temporal joins (r3, operators/intervals.py). The oracle uses the
# plain theta join (fine at sf0.01); the Spark side uses the bucketed
# equi-join rewrite, so a hash-match certifies that the rewrite produces
# EXACTLY the theta-join pairs (incl. the open-interval union path and the
# later-start exactly-once rule).
# ---------------------------------------------------------------------------


@_q(
    "temporal_dim_lookup",
    f"WITH {_SCD2_CTE}, "
    "probes AS (SELECT event_id, user_id, "
    "  ts + INTERVAL 1 HOUR AS probe_ts FROM events WHERE event_id % 7 = 0) "
    "SELECT p.event_id, p.user_id, p.probe_ts, s.attr_value, s.version "
    "FROM probes p JOIN scd2 s ON p.user_id = s.entity "
    "AND s.valid_from <= p.probe_ts "
    "AND (s.valid_to IS NULL OR p.probe_ts < s.valid_to)",
)
def temporal_dim_lookup_q(spark, sf_dir):
    from .operators import intervals, scd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = scd.scd2_assemble(
        ev, "user_id", "event_type", ts_col="ts", tiebreak_col="event_id"
    ).select(
        F.col("entity").alias("user_id"), "attr_value", "version",
        "valid_from", "valid_to",
    )
    probes = ev.where(F.col("event_id") % 7 == 0).select(
        "event_id",
        "user_id",
        F.timestamp_micros(F.unix_micros(F.col("ts").cast("timestamp")) + 3_600_000_000)
        .cast("timestamp_ntz")
        .alias("probe_ts"),
    )
    return intervals.point_in_interval_join(
        probes, dim,
        point_ts="probe_ts", start_col="valid_from", end_col="valid_to",
        key_cols=["user_id"], bucket_width_s=7 * 86400,
    ).select("event_id", "user_id", "probe_ts", "attr_value", "version")


_SESS_IV_CTE = (
    f"{_SESS_CTE}, "
    "sess AS (SELECT user_id, session_no, min(ts) AS session_start, "
    "  epoch_ms(epoch_ms(max(ts)) + 1) AS session_end "
    "  FROM sa GROUP BY user_id, session_no), "
    "bounds AS (SELECT date_trunc('day', min(ts)) AS d0, "
    "  date_trunc('day', max(ts)) AS d1 FROM events), "
    "days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) "
    "  AS day_start FROM bounds)"
)


@_q(
    "session_day_overlap",
    f"WITH {_SESS_IV_CTE} "
    "SELECT user_id, CAST(session_no AS BIGINT) AS session_no, session_start, "
    "day_start FROM sess JOIN days "
    "ON session_start < day_start + INTERVAL 1 DAY AND day_start < session_end",
)
def session_day_overlap_q(spark, sf_dir):
    from .operators import intervals, sessions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sess = (
        sessions.sessionize(ev, gap_s=_SESS_GAP_S)
        .groupBy("user_id", F.col("session_no").cast("long").alias("session_no"))
        .agg(
            F.min("ts").alias("session_start"),
            # +1ms so single-event sessions are non-empty half-open intervals
            F.timestamp_millis(F.unix_millis(F.max("ts").cast("timestamp")) + 1)
            .cast("timestamp_ntz")
            .alias("session_end"),
        )
    )
    days = (
        ev.agg(
            F.date_trunc("DAY", F.min("ts")).alias("d0"),
            F.date_trunc("DAY", F.max("ts")).alias("d1"),
        )
        .select(
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("day_start")
        )
        .withColumn(
            "day_end",
            F.timestamp_micros(
                F.unix_micros(F.col("day_start").cast("timestamp")) + 86400 * 1_000_000
            ).cast("timestamp_ntz"),
        )
    )
    return intervals.interval_overlap_join(
        sess, days,
        a_start="session_start", a_end="session_end",
        b_start="day_start", b_end="day_end",
        bucket_width_s=86400,
    ).select("user_id", "session_no", "session_start", "day_start")


# ---------------------------------------------------------------------------
# URL canonicalization (r3, functions/urls.py): messy crawl URLs
# synthesized deterministically from doc_id (4 variants per page — case,
# default ports, www, duplicate slashes, trailing slash, unsorted params,
# tracking params, fragments), canonicalized natively on both engines.
# ---------------------------------------------------------------------------

_RAW_URL_SQL = (
    "CASE doc_id % 4 "
    "WHEN 0 THEN 'https://site' || CAST(doc_id % 37 AS VARCHAR) || '.com/p/' "
    "  || CAST(doc_id % 111 AS VARCHAR) || '?a=1&b=2' "
    "WHEN 1 THEN 'HTTPS://Site' || CAST(doc_id % 37 AS VARCHAR) || '.COM:443/p/' "
    "  || CAST(doc_id % 111 AS VARCHAR) || '/?b=2&a=1&utm_source=feed#top' "
    "WHEN 2 THEN 'https://www.site' || CAST(doc_id % 37 AS VARCHAR) || '.com//p//' "
    "  || CAST(doc_id % 111 AS VARCHAR) || '?a=1&utm_campaign=x&b=2' "
    "ELSE 'HTTP://site' || CAST(doc_id % 37 AS VARCHAR) || '.com:8080/p/' "
    "  || CAST(doc_id % 111 AS VARCHAR) || '?fbclid=abc' END"
)


def _raw_url_col():
    h = (F.col("doc_id") % 37).cast("string")
    p = (F.col("doc_id") % 111).cast("string")
    v = F.col("doc_id") % 4
    return (
        F.when(v == 0, F.concat(F.lit("https://site"), h, F.lit(".com/p/"), p,
                                F.lit("?a=1&b=2")))
        .when(v == 1, F.concat(F.lit("HTTPS://Site"), h, F.lit(".COM:443/p/"), p,
                               F.lit("/?b=2&a=1&utm_source=feed#top")))
        .when(v == 2, F.concat(F.lit("https://www.site"), h, F.lit(".com//p//"), p,
                               F.lit("?a=1&utm_campaign=x&b=2")))
        .otherwise(F.concat(F.lit("HTTP://site"), h, F.lit(".com:8080/p/"), p,
                            F.lit("?fbclid=abc")))
    )


@_q(
    "url_canonicalize",
    "SELECT doc_id, raw_url, " + U.canonical_url_sql("raw_url") + " AS canon_url "
    f"FROM (SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents)",
)
def url_canonicalize_q(spark, sf_dir):
    from .functions import urls

    d = _docs(spark, sf_dir).select("doc_id", _raw_url_col().alias("raw_url"))
    return d.select(
        "doc_id", "raw_url", urls.canonical_url(F.col("raw_url")).alias("canon_url")
    )


@_q(
    "url_dup_groups",
    "WITH c AS (SELECT doc_id, " + U.canonical_url_sql("raw_url") + " AS canon_url "
    f"FROM (SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents)) "
    "SELECT canon_url, count(*) AS n_docs, min(doc_id) AS canonical_doc "
    "FROM c GROUP BY canon_url HAVING count(*) > 1",
)
def url_dup_groups_q(spark, sf_dir):
    from .functions import urls

    d = _docs(spark, sf_dir).select("doc_id", _raw_url_col().alias("raw_url"))
    return (
        d.select("doc_id", urls.canonical_url(F.col("raw_url")).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_doc"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Cluster refinement + cohesion (r3, operators/clustering.py
# refine_clusters): two-tier thresholding — clusters over max_size are
# re-cut with strict edges only (the standard over-merge fix). Oracle runs
# a SECOND recursive-CTE closure restricted to the strong subgraph of the
# big clusters' members. Strict threshold 0.809 picked so the fixture's
# size-4/6 clusters split PARTIALLY (not shatter) — see BENCH notes.
# ---------------------------------------------------------------------------

_REFINE_MAX = 3
_REFINE_THR = 0.809
_ER_SCORE_SQL = "0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard"

_ER_REFINED_CTE = (
    _ER_CLUSTERS_CTE
    + ", sizes AS (SELECT cluster_id, count(*) AS n FROM clusters GROUP BY 1), "
    f"bigc AS (SELECT cluster_id FROM sizes WHERE n > {_REFINE_MAX}), "
    "bigm AS MATERIALIZED (SELECT doc_id FROM clusters JOIN bigc USING (cluster_id)), "
    "sedges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored "
    f"WHERE {_ER_SCORE_SQL} >= {_REFINE_THR} "
    "AND doc_id_a IN (SELECT doc_id FROM bigm) "
    "AND doc_id_b IN (SELECT doc_id FROM bigm)), "
    "ssym AS MATERIALIZED (SELECT u, v FROM sedges UNION SELECT v, u FROM sedges), "
    "reach2(a, b) AS (SELECT doc_id, doc_id FROM bigm "
    "  UNION SELECT r.a, s.v FROM reach2 r JOIN ssym s ON r.b = s.u), "
    "refined AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach2 GROUP BY a)"
)


@_q(
    "er_refined_clusters",
    f"WITH RECURSIVE {_ER_REFINED_CTE} "
    "SELECT doc_id, cluster_id FROM refined "
    "UNION ALL SELECT c.doc_id, c.cluster_id FROM clusters c "
    "WHERE c.doc_id NOT IN (SELECT doc_id FROM bigm)",
)
def er_refined_clusters_q(spark, sf_dir):
    from .operators.clustering import refine_clusters

    assign = er_clusters(spark, sf_dir)
    scored = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    return refine_clusters(
        assign, scored, score, max_size=_REFINE_MAX, strict_threshold=_REFINE_THR
    )


@_q(
    "er_cluster_cohesion",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    "medges AS (SELECT doc_id_a, doc_id_b, "
    f"  round({_ER_SCORE_SQL}, 6) AS score FROM er_scored WHERE {_ER_MATCH_COND}), "
    "cedges AS (SELECT c.cluster_id, m.score FROM medges m "
    "  JOIN clusters c ON m.doc_id_a = c.doc_id), "
    "csz AS (SELECT cluster_id, count(*) AS n_members FROM clusters GROUP BY 1) "
    "SELECT s.cluster_id, s.n_members, count(*) AS n_edges, "
    "min(e.score) AS min_score, "
    "CAST(sum(CAST(e.score AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS avg_score, "
    "2.0 * count(*) / (s.n_members * (s.n_members - 1)) AS density "
    "FROM cedges e JOIN csz s USING (cluster_id) "
    "WHERE s.n_members > 1 GROUP BY s.cluster_id, s.n_members",
)
def er_cluster_cohesion_q(spark, sf_dir):
    assign = er_clusters(spark, sf_dir)
    scored = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    medges = scored.where(score >= 0.8).select(
        "doc_id_a", "doc_id_b", F.round(score, 6).alias("score")
    )
    cedges = medges.join(
        assign.withColumnRenamed("doc_id", "doc_id_a"), "doc_id_a"
    ).select("cluster_id", "score")
    csz = assign.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        cedges.join(csz, "cluster_id")
        .where(F.col("n_members") > 1)
        .groupBy("cluster_id", "n_members")
        .agg(
            F.count("*").alias("n_edges"),
            F.min("score").alias("min_score"),
            (
                F.sum(F.col("score").cast("decimal(18,9)")).cast("double")
                / F.count("*")
            ).alias("avg_score"),
            (
                2.0 * F.count("*")
                / (F.col("n_members") * (F.col("n_members") - 1))
            ).alias("density"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming dedup (r3, streaming/incremental.py streaming_dedup):
# watermark-bounded dropDuplicatesWithinWatermark over a stream that
# replays every event twice; the batch twin is plain DISTINCT (exact here
# because both copies arrive inside the delay window — see operator doc).
# ---------------------------------------------------------------------------


@_q(
    "stream_dedup_events",
    "SELECT DISTINCT event_id, user_id, event_type, ts FROM events",
)
def stream_dedup_events_q(spark, sf_dir):
    from .streaming.incremental import run_stream_to_memory, streaming_dedup

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2))))
        .select("event_id", "user_id", "event_type", F.col("ts").cast("timestamp"))
    )
    out = run_stream_to_memory(
        spark,
        streaming_dedup(stream, ["event_id"], "ts", "1 hour"),
        "stream_dedup_events_sink",
    )
    return out.select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )


# ---------------------------------------------------------------------------
# Skew-aware salted join (r3, operators/skewjoin.py): hot_threshold=2000
# makes 3 of the fixture's 5 event_types hot (salted 4 ways) and 2 cold
# (salt-0 fast path), so both branches execute; the oracle is the PLAIN
# join — a hash match proves salting is pure re-bucketing.
# ---------------------------------------------------------------------------


@_q(
    "salted_skew_join",
    "WITH dim AS (SELECT DISTINCT event_type, "
    "  length(event_type) AS type_weight FROM events) "
    "SELECT e.event_id, e.event_type, e.user_id, d.type_weight "
    "FROM events e JOIN dim d USING (event_type)",
)
def salted_skew_join_q(spark, sf_dir):
    from .operators.skewjoin import salted_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id"
    )
    dim = ev.select("event_type").distinct().withColumn(
        "type_weight", F.length("event_type")
    )
    return salted_join(
        ev, dim, key="event_type", tiebreak="event_id",
        n_salts=4, hot_threshold=2000,
    ).select("event_id", "event_type", "user_id", "type_weight")


# ---------------------------------------------------------------------------
# Integer PageRank (r3, operators/graphrank.py): 3 rounds over a
# deterministic 3-out expander on the documents ids. All-integer
# arithmetic -> the unrolled DuckDB twin matches bit-for-bit (the same
# exactness trick as the decimal sums; float PR would drift by summation
# order).
# ---------------------------------------------------------------------------

from .operators.graphrank import pagerank_int_sql as _pr_sql  # noqa: E402

_PR_EDGES_CTE = (
    "pcnt AS (SELECT count(*) AS n FROM documents), "
    "praw AS (SELECT doc_id AS src, unnest(["
    "  (doc_id * 7 + 1) % n, (doc_id * 13 + 5) % n, (doc_id * 3 + 11) % n"
    "]) AS dst FROM documents, pcnt), "
    "pedges AS (SELECT src, dst FROM praw WHERE src <> dst)"
)


@_q(
    "pagerank_scores",
    f"WITH {_PR_EDGES_CTE}, {_pr_sql('pedges', iterations=3)} "
    "SELECT node, score FROM pr3",
)
def pagerank_scores_q(spark, sf_dir):
    from .operators.graphrank import pagerank_int

    d = _docs(spark, sf_dir).select("doc_id")
    cnt = d.agg(F.count("*").alias("_n"))
    edges = (
        d.crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    (F.col("doc_id") * 7 + 1) % F.col("_n"),
                    (F.col("doc_id") * 13 + 5) % F.col("_n"),
                    (F.col("doc_id") * 3 + 11) % F.col("_n"),
                )
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    return pagerank_int(edges, iterations=3)


# ---------------------------------------------------------------------------
# Rolling time-range features (r3): per event, aggregates over the user's
# trailing 7-day window — the feature-engineering staple for ML training
# tables. Spark RANGE frame over unix seconds == DuckDB RANGE INTERVAL
# frame; sums in decimal for hash stability. One shuffle on user_id.
# ---------------------------------------------------------------------------


@_q(
    "rolling_user_features",
    "SELECT event_id, user_id, ts, "
    "count(*) OVER w AS n_7d, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_value_7d, "
    "CAST(max(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS max_value_7d "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts "
    "RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)",
)
def rolling_user_features_q(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    dec = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_7d"),
        F.sum(dec).over(w).cast("double").alias("sum_value_7d"),
        F.max(dec).over(w).cast("double").alias("max_value_7d"),
    )


# ---------------------------------------------------------------------------
# Per-user anomaly z-scores (r3): events whose value is > 2 sigma from the
# user's mean. Moments accumulate in DECIMAL (exact, order-insensitive);
# the double math after that is the IDENTICAL expression tree on both
# engines, so results hash-match bit-for-bit.
# ---------------------------------------------------------------------------


@_q(
    "event_anomalies",
    "WITH st AS (SELECT user_id, count(*) AS n, "
    "  sum(CAST(value AS DECIMAL(18,6))) AS s, "
    "  sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2 "
    "  FROM events GROUP BY user_id), "
    "m AS (SELECT user_id, n, CAST(s AS DOUBLE) / n AS mean, "
    "  sqrt(greatest(CAST(s2 AS DOUBLE) / n "
    "    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS std "
    "  FROM st) "
    "SELECT e.event_id, e.user_id, e.value, "
    "round((e.value - m.mean) / m.std, 6) AS zscore "
    "FROM events e JOIN m USING (user_id) "
    "WHERE m.std > 0 AND abs((e.value - m.mean) / m.std) > 2",
)
def event_anomalies_q(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dec = F.col("value").cast("decimal(18,6)")
    st = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("s2"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    std = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n") - mean * mean, F.lit(0.0)
        )
    )
    m = st.select("user_id", mean.alias("mean"), std.alias("std"))
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(m, "user_id")
        .where((F.col("std") > 0) & (F.abs(z) > 2))
        .select("event_id", "user_id", "value", F.round(z, 6).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Session funnel (r3): per session, did a purchase happen at-or-after the
# first signup? Pure conditional aggregation over the shared session CTE —
# no ordered-list collection needed (order enters via min/max timestamps).
# ---------------------------------------------------------------------------


@_q(
    "session_funnel",
    f"WITH {_SESS_CTE}, "
    "ev2 AS (SELECT sa.user_id, sa.session_no, sa.ts, e.event_type "
    "  FROM sa JOIN events e USING (event_id)) "
    # funnel timestamps are NULL for sessions without the event — render
    # as microsecond VARCHAR on both engines so the driver's pandas .df()
    # path keeps NULL as NULL instead of NaT (the r5 type-path class)
    "SELECT user_id, CAST(session_no AS BIGINT) AS session_no, "
    "count(*) AS n_events, "
    f"strftime(min(CASE WHEN event_type = 'signup' THEN ts END), '{_SCD2_TS_FMT_SQL}') AS first_signup, "
    f"strftime(max(CASE WHEN event_type = 'purchase' THEN ts END), '{_SCD2_TS_FMT_SQL}') AS last_purchase, "
    "coalesce(max(CASE WHEN event_type = 'purchase' THEN ts END) "
    "  >= min(CASE WHEN event_type = 'signup' THEN ts END), FALSE) AS converted "
    "FROM ev2 GROUP BY user_id, session_no",
)
def session_funnel_q(spark, sf_dir):
    from .operators import sessions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sess = sessions.sessionize(ev, gap_s=_SESS_GAP_S)
    s_ts = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    p_ts = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return sess.groupBy(
        "user_id", F.col("session_no").cast("long").alias("session_no")
    ).agg(
        F.count("*").alias("n_events"),
        F.date_format(s_ts, _SCD2_TS_FMT_SPARK).alias("first_signup"),
        F.date_format(p_ts, _SCD2_TS_FMT_SPARK).alias("last_purchase"),
        F.coalesce(p_ts >= s_ts, F.lit(False)).alias("converted"),
    )


# ---------------------------------------------------------------------------
# JSONL ingest round-trip (r3, sources/jsonio.py): documents exported as
# JSON lines (Spark's to_json) then re-read with the explicit schema +
# PERMISSIVE corrupt capture; a hash match against the parquet source
# proves the parse is lossless (incl. newline/quote escaping in text).
# ---------------------------------------------------------------------------


@_q(
    "jsonl_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def jsonl_roundtrip_q(spark, sf_dir):
    import re as _re

    from .sources import jsonio

    tag = _re.sub(r"[^A-Za-z0-9]+", "_", sf_dir)
    path = f"/tmp/smsp_jsonl{tag}"
    _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").json(path)
    return jsonio.docs_from_jsonl(spark, path)


# ORC sink/source with Hive-style partition layout: write documents
# partitioned by lang, read back ONE partition. DuckDB cannot read ORC,
# so the oracle recomputes the same selection from the parquet view — a
# hash match certifies the ORC write+read round-trips values exactly. The
# filter on the partition column prunes at the DIRECTORY level (the scan
# lists only lang=<pick>/ — partition pruning, not data skipping), which
# is the layout a 100 TB corpus store would use for per-language reads.
@_q(
    "orc_partitioned_roundtrip",
    "SELECT doc_id, text, source, n_chars FROM documents "
    "WHERE lang = (SELECT min(lang) FROM documents)",
)
def orc_partitioned_roundtrip_q(spark, sf_dir):
    # per-run unique dir (ADVICE r3): a fixed /tmp name derived from
    # sf_dir races concurrent driver runs (mode=overwrite deletes files
    # another run is mid-read on) and is squat-able on shared hosts.
    import tempfile

    path = tempfile.mkdtemp(prefix="smsp_orc_")
    d = _docs(spark, sf_dir)
    d.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).partitionBy("lang").orc(path)
    pick = d.agg(F.min("lang")).collect()[0][0]
    out = (
        spark.read.orc(path)
        .where(F.col("lang") == pick)
        .select("doc_id", "text", "source", "n_chars")
    )
    # The scan (with directory-level partition pruning on lang=<pick>/)
    # runs NOW; the eager checkpoint pins the result so the temp dir can
    # be removed before the caller's later collect().
    out = out.localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    return out


# S1 driver-level certification (r4): database-unload CSV dialect round
# trip. Synthesizes a MySQL-style TSV (tab separator, backslash escapes,
# \N null marker, cells salted with embedded tabs/backslashes) from the
# customer table ENTIRELY with native expressions, writes it as text,
# re-ingests it through sniff_csv_format + read_csv_auto's backslash
# path (sources/csvio.py _read_backslash_csv), and returns the parsed
# frame. The oracle recomputes the same synthesis directly from customer
# — so a sniff error, an escape bug, or a null-marker miss all surface
# as value mismatches. (CsvUtil.java:120-122 MYSQL/POSTGRESQL_TEXT.)
_CSV_SALT_SQL = (
    "CASE WHEN c_custkey % 4 = 0 THEN NULL "
    "WHEN c_custkey % 4 = 1 THEN c_name || ' a\tb' "
    "WHEN c_custkey % 4 = 2 THEN c_name || ' x\\y' "
    "ELSE c_name END"
)


@_q(
    "csv_unload_roundtrip",
    "SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, "
    f"{_CSV_SALT_SQL} AS name FROM customer",
)
def csv_unload_roundtrip_q(spark, sf_dir):
    import shutil
    import tempfile

    from .sources.csvio import read_csv_auto

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey") % 4
    salted = (
        F.when(k == 0, F.lit(None).cast("string"))
        .when(k == 1, F.concat(F.col("c_name"), F.lit(" a\tb")))
        .when(k == 2, F.concat(F.col("c_name"), F.lit(" x\\y")))
        .otherwise(F.col("c_name"))
    )
    esc = F.regexp_replace(salted, r"([\\\t])", r"\\$1")
    line = F.concat_ws(
        "\t", F.col("c_custkey").cast("string"), F.coalesce(esc, F.lit("\\N"))
    )
    path = tempfile.mkdtemp(prefix="smsp_csvrt_")
    header = spark.createDataFrame([("c_custkey\tname",)], "value string")
    # coalesce(1): header must be line 1 of the single written file (the
    # reader takes the first text line as the header; tiny parity fixture)
    header.unionAll(cust.select(line.alias("value"))).coalesce(1).write.mode(
        "overwrite"
    ).text(path)
    out = read_csv_auto(spark, path).localCheckpoint(eager=True)
    shutil.rmtree(path, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Edit-distance join (r3, operators/editjoin.py): all customer-name pairs
# within levenshtein <= 2 (names differ in digit positions — a dense,
# non-trivial pair set). The oracle is the EXHAUSTIVE DuckDB levenshtein
# join, so a hash match certifies the length/count/band filters lose
# nothing (recall exactly 1.0).
# ---------------------------------------------------------------------------


@_q(
    "edit_distance_join",
    "SELECT a.c_custkey AS doc_id_a, b.c_custkey AS doc_id_b, "
    "CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist "
    "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey "
    "WHERE levenshtein(a.c_name, b.c_name) <= 2",
)
def edit_distance_join_q(spark, sf_dir):
    from .operators.editjoin import edit_distance_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return edit_distance_join(
        cust, k=2, q=3, id_col="c_custkey", text_col="c_name"
    )


# ---------------------------------------------------------------------------
# Declarative quality gate (r3, operators/quality_checks.py): a 5-check
# Deequ-style suite over orders — row-local checks fused into ONE scan,
# referential check as a semi-join. Exact count ratios -> hash-stable.
# ---------------------------------------------------------------------------


@_q(
    "quality_gate",
    "WITH base AS (SELECT count(*) AS total, count(o_custkey) AS comp, "
    "  count(DISTINCT o_orderkey) AS uniq, "
    "  sum(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 600000 THEN 1 ELSE 0 END) AS rng, "
    "  sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS acc FROM orders), "
    "refc AS (SELECT count(*) AS nn, "
    "  (SELECT count(*) FROM orders o WHERE o.o_custkey IN "
    "     (SELECT c_custkey FROM customer)) AS hit "
    "  FROM orders WHERE o_custkey IS NOT NULL) "
    ", u AS ("
    "SELECT 'completeness' AS \"check\", 'o_custkey' AS \"column\", "
    "  round(CASE WHEN total = 0 THEN 1.0 ELSE CAST(comp AS DOUBLE) / total END, 9) AS metric, "
    "  CAST(1.0 AS DOUBLE) AS threshold FROM base "
    "UNION ALL SELECT 'uniqueness', 'o_orderkey', "
    "  round(CASE WHEN total = 0 THEN 1.0 ELSE CAST(uniq AS DOUBLE) / total END, 9), 1.0 FROM base "
    "UNION ALL SELECT 'in_range', 'o_totalprice', "
    "  round(CASE WHEN total = 0 THEN 1.0 ELSE CAST(rng AS DOUBLE) / total END, 9), 0.99 FROM base "
    "UNION ALL SELECT 'accepted_values', 'o_orderstatus', "
    "  round(CASE WHEN total = 0 THEN 1.0 ELSE CAST(acc AS DOUBLE) / total END, 9), 1.0 FROM base "
    "UNION ALL SELECT 'references', 'o_custkey', "
    "  round(CASE WHEN nn = 0 THEN 1.0 ELSE CAST(hit AS DOUBLE) / nn END, 9), 1.0 FROM refc) "
    "SELECT \"check\", \"column\", metric, threshold, "
    "metric >= threshold AS passed FROM u",
)
def quality_gate_q(spark, sf_dir):
    from .operators import quality_checks as QC

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    suite = [
        QC.completeness("o_custkey"),
        QC.uniqueness("o_orderkey"),
        QC.in_range("o_totalprice", 0, 600000, threshold=0.99),
        QC.accepted_values("o_orderstatus", ["O", "F", "P"]),
        QC.references("o_custkey", cust, "c_custkey"),
    ]
    return QC.run_checks(orders, suite)


# ---------------------------------------------------------------------------
# CDC changelog apply (r3, operators/cdc.py): synthetic Debezium-shaped
# changelog over orders (updates at seq 1, later updates/deletes at
# seq 2) folded into the base — latest-wins via max(struct) groupBy (the
# oracle uses the equivalent row_number window).
# ---------------------------------------------------------------------------

_CDC_CH_CTE = (
    "ch AS (SELECT o_orderkey, 'U' AS op, 1 AS seq, "
    "  o_totalprice + 100 AS o_totalprice, o_orderstatus FROM orders "
    "  WHERE o_orderkey % 3 = 0 "
    "UNION ALL SELECT o_orderkey, "
    "  CASE WHEN o_orderkey % 18 = 0 THEN 'D' ELSE 'U' END, 2, "
    "  o_totalprice + 200, o_orderstatus FROM orders WHERE o_orderkey % 9 = 0), "
    "w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey "
    "  ORDER BY seq DESC, op DESC) AS rn FROM ch), "
    "win AS (SELECT * FROM w WHERE rn = 1)"
)


@_q(
    "cdc_apply_orders",
    f"WITH {_CDC_CH_CTE} "
    "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
    "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM win) "
    "UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus FROM win "
    "WHERE op <> 'D'",
)
def cdc_apply_orders_q(spark, sf_dir):
    from .operators.cdc import cdc_apply

    base = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    c1 = base.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
        "o_orderstatus",
    )
    c2 = base.where(F.col("o_orderkey") % 9 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 18 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.lit(2).alias("seq"),
        (F.col("o_totalprice") + 200).alias("o_totalprice"),
        "o_orderstatus",
    )
    return cdc_apply(base, c1.unionByName(c2), key="o_orderkey")


# ---------------------------------------------------------------------------
# Key-skew census (r3): the report that picks salted_join/salt_keys
# thresholds — top-20 hottest keys with share and cumulative share.
# Exact integer counts; shares are identical double expressions.
# ---------------------------------------------------------------------------


@_q(
    "key_skew_report",
    "WITH c AS (SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1), "
    "t AS (SELECT sum(n) AS total FROM c), "
    "r AS (SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rank, "
    "  sum(n) OVER (ORDER BY n DESC, key ROWS UNBOUNDED PRECEDING) AS cum FROM c) "
    "SELECT key, n, CAST(rank AS BIGINT) AS rank, "
    "round(CAST(n AS DOUBLE) / total, 9) AS share, "
    "round(CAST(cum AS DOUBLE) / total, 9) AS cum_share "
    "FROM r, t WHERE rank <= 20",
)
def key_skew_report_q(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    c = ev.groupBy(F.col("user_id").alias("key")).agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    # distributed TakeOrdered FIRST (scale-safe at billions of keys),
    # then rank/cum-sum windows run over the 20 surviving rows only —
    # a global window over the full census would single-partition-sort it
    top = c.orderBy(F.col("n").desc(), "key").limit(20)
    w = Window.orderBy(F.col("n").desc(), "key")
    r = top.select(
        "key",
        "n",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    return r.crossJoin(F.broadcast(t)).select(
        "key",
        "n",
        "rank",
        F.round(F.col("n").cast("double") / F.col("total"), 9).alias("share"),
        F.round(F.col("cum").cast("double") / F.col("total"), 9).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Quantile-band corpus filter (r3): drop length outliers outside
# [P05, P95] of n_chars — the standard LLM-corpus length filter with
# data-derived (not hard-coded) cutoffs. percentile_disc is an order
# statistic (an actual data value), identical on both engines; it holds
# per-group values in memory, so at 100 TB the cutoff pass switches to
# approx_percentile (sketch) — the FILTER shape is unchanged.
# ---------------------------------------------------------------------------


@_q(
    "quantile_band_filter",
    "WITH b AS (SELECT quantile_disc(n_chars, 0.05) AS lo, "
    "  quantile_disc(n_chars, 0.95) AS hi FROM documents) "
    "SELECT doc_id, n_chars FROM documents, b "
    "WHERE n_chars >= lo AND n_chars <= hi",
)
def quantile_band_filter_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    b = d.agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)").alias("hi"),
    )
    return (
        d.crossJoin(F.broadcast(b))
        .where(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Per-language embedding centroids (r3): the aggregation IVF training and
# dataset-mixing reports need — posexplode to (lang, dim) rows, decimal
# sums (order-insensitive), mean in double. At 100 TB this is a single
# shuffle on (lang, dim) with map-side partial sums; the array NEVER
# reassembles until the (tiny) centroid frame.
# ---------------------------------------------------------------------------


@_q(
    "lang_centroids",
    "WITH x AS (SELECT d.lang, m.embedding, "
    "  unnest(range(1, len(m.embedding) + 1)) AS i "
    "  FROM embeddings m JOIN documents d ON m.vec_id = d.doc_id), "
    "e AS (SELECT lang, i - 1 AS dim, "
    "  CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,12)) AS v "
    "  FROM x) "
    "SELECT lang, CAST(dim AS INT) AS dim, count(*) AS n, "
    "round(CAST(sum(v) AS DOUBLE) / count(*), 9) AS centroid "
    "FROM e GROUP BY lang, dim",
)
def lang_centroids_q(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    e = emb.join(d, emb.vec_id == d.doc_id).select(
        "lang", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        e.groupBy("lang", F.col("dim").cast("int").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("v").cast("double").cast("decimal(28,12)"))
                .cast("double")
                / F.count("*"),
                9,
            ).alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# ER review queue (r3): the active-learning workflow step — pairs whose
# score falls in the uncertainty band around the match threshold,
# deterministically subsampled (portable Lehmer hash on the pair ids) for
# human labeling. Composes the cached scored-pair frame; no new shuffles.
# ---------------------------------------------------------------------------

_REVIEW_LO, _REVIEW_HI, _REVIEW_RATE = 0.75, 0.85, 0.5


@_q(
    "er_review_queue",
    f"WITH {_ER_SCORED_CTE} "
    f"SELECT doc_id_a, doc_id_b, round({_ER_SCORE_SQL}, 6) AS score "
    "FROM er_scored "
    f"WHERE {_ER_SCORE_SQL} >= {_REVIEW_LO} AND {_ER_SCORE_SQL} < {_REVIEW_HI} "
    f"AND {_lehmer_sql('doc_id_a * 100000 + doc_id_b')} < {_REVIEW_RATE}",
)
def er_review_queue_q(spark, sf_dir):
    from .operators import sampling

    s = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    band = s.where((score >= _REVIEW_LO) & (score < _REVIEW_HI)).select(
        "doc_id_a", "doc_id_b", F.round(score, 6).alias("score"),
        (F.col("doc_id_a") * 100000 + F.col("doc_id_b")).alias("_k"),
    )
    return sampling.deterministic_sample(band, "_k", _REVIEW_RATE).drop("_k")


# ---------------------------------------------------------------------------
# Dataset mixing plan (r3): given per-lang token counts and uniform
# target weights, the largest total token budget T such that no lang is
# oversampled (epochs <= max_epochs), plus per-lang sampling rates and
# expected tokens — the planning step before stratified_sample executes
# the mix. Exact integer census; doubles via identical expressions.
# ---------------------------------------------------------------------------

_MIX_EPOCHS = 2.0  # allow up to 2 epochs of any stratum


@_q(
    "mixing_plan",
    "WITH c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS toks FROM documents GROUP BY lang), "
    "k AS (SELECT count(*) AS n_langs FROM c), "
    # binding stratum: T = min over langs of (toks * epochs * n_langs)
    "t AS (SELECT min(toks * CAST(2.0 AS DOUBLE) * n_langs) AS budget FROM c, k) "
    "SELECT lang, toks, round(budget, 6) AS budget, "
    "round(budget / n_langs, 6) AS target_toks, "
    "round((budget / n_langs) / toks, 6) AS epochs "
    "FROM c, k, t",
)
def mixing_plan_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    c = d.groupBy("lang").agg(F.sum("n_chars").alias("toks"))
    k = c.agg(F.count("*").alias("n_langs"))
    ck = c.crossJoin(F.broadcast(k))
    t = ck.agg(
        F.min(F.col("toks") * F.lit(_MIX_EPOCHS) * F.col("n_langs")).alias("budget")
    )
    return ck.crossJoin(F.broadcast(t)).select(
        "lang",
        "toks",
        F.round(F.col("budget"), 6).alias("budget"),
        F.round(F.col("budget") / F.col("n_langs"), 6).alias("target_toks"),
        F.round((F.col("budget") / F.col("n_langs")) / F.col("toks"), 6).alias(
            "epochs"
        ),
    )


# ---------------------------------------------------------------------------
# Compressed-header probe (r3, operators/multimodal.py): genuine PNG /
# GIF / JPEG header bytes (dims seeded from sha256(ref)), probed back by
# the stdlib header parser. The oracle recomputes (fmt, w, h) from the
# seed directly, so a hash match certifies the synth→probe ROUND TRIP —
# i.e. the JPEG marker walk / PNG IHDR / GIF screen parse are all exact.
# ---------------------------------------------------------------------------


@_q(
    "media_probe_dims",
    f"WITH {_MEDIA_REFS_CTE}, "
    f"sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs)) "
    "SELECT media_ref, "
    "CASE seed % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS fmt, "
    "CAST((seed // 4) % 1024 + 16 AS BIGINT) AS width, "
    "CAST((seed // 4096) % 1024 + 16 AS BIGINT) AS height "
    "FROM sd",
)
def media_probe_dims_q(spark, sf_dir):
    from .operators.multimodal import (
        probe_dimensions,
        synth_compressed_media_table,
    )

    comp = synth_compressed_media_table(_media(spark, sf_dir))
    return probe_dimensions(comp)


# ---------------------------------------------------------------------------
# Sentence segmentation (r3): terminator-run split (no lookbehind — RE2
# in DuckDB has none, so the rule is the portable `[.!?]+\s+`), exploded
# with per-sentence token counts. Pure native exprs, zero shuffle.
# ---------------------------------------------------------------------------

_SENT_RE = r"[.!?]+\s+"


@_q(
    "split_sentences",
    "WITH s AS (SELECT doc_id, string_split_regex(text, '[.!?]+\\s+') AS sents "
    "FROM documents), "
    "e AS (SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, "
    "  trim(sents[CAST(i AS INT)]) AS sentence "
    "  FROM (SELECT doc_id, sents, unnest(range(1, len(sents) + 1)) AS i FROM s)) "
    "SELECT doc_id, sent_idx, sentence, "
    "CAST(len(list_filter(string_split_regex(sentence, '\\s+'), x -> x <> '')) AS INT) "
    "AS n_tokens FROM e WHERE sentence <> ''",
)
def split_sentences_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    e = d.select(
        "doc_id",
        F.posexplode(F.split("text", _SENT_RE)).alias("sent_idx", "sentence"),
    ).select("doc_id", F.col("sent_idx").cast("int"), F.trim("sentence").alias("sentence"))
    toks = F.filter(F.split("sentence", r"\s+"), lambda x: x != "")
    return e.where(F.col("sentence") != "").select(
        "doc_id", "sent_idx", "sentence", F.size(toks).cast("int").alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval fusion (r3): reciprocal-rank fusion of a lexical
# ranking (token Jaccard vs the query doc) and a vector ranking (cosine
# vs the query embedding) — rrf = 1/(60+r_lex) + 1/(60+r_vec). Ranks are
# integers (exact), the fused score two double terms in fixed order.
# Single query here; multi-query fusion partitions every window by
# query_id (same shape as ann topk).
# ---------------------------------------------------------------------------


@_q(
    "hybrid_rrf_topk",
    "WITH qd AS (SELECT text AS qtext FROM documents WHERE doc_id = 0), "
    "qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0), "
    "toks AS (SELECT doc_id, list_distinct(list_filter("
    "  string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t FROM documents), "
    "qt AS (SELECT list_distinct(list_filter(string_split_regex(lower(qtext), '\\s+'), "
    "  x -> x <> '')) AS t FROM qd), "
    "lex AS (SELECT d.doc_id, CAST(len(list_intersect(d.t, q.t)) AS DOUBLE) "
    "  / len(list_distinct(list_concat(d.t, q.t))) AS jac FROM toks d, qt q "
    "  WHERE d.doc_id <> 0), "
    "vec AS (SELECT e.vec_id AS doc_id, "
    "  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cos "
    "  FROM embeddings e, qv q WHERE e.vec_id <> 0), "
    "rl AS (SELECT doc_id, row_number() OVER (ORDER BY jac DESC, doc_id) AS r_lex FROM lex), "
    "rv AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_vec FROM vec), "
    "f AS (SELECT doc_id, CAST(r_lex AS BIGINT) AS r_lex, CAST(r_vec AS BIGINT) AS r_vec, "
    "  round(1.0 / (60 + r_lex) + 1.0 / (60 + r_vec), 9) AS rrf "
    "  FROM rl JOIN rv USING (doc_id)) "
    "SELECT * FROM (SELECT f.*, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM f) "
    "WHERE rn <= 20",
)
def hybrid_rrf_topk_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tok = lambda c: F.array_distinct(
        F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "")
    )
    qt = d.where(F.col("doc_id") == 0).select(tok(F.col("text")).alias("qt"))
    qv = emb.where(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qvec")
    )
    lex = (
        d.where(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(qt))
        .select(
            "doc_id",
            (
                F.size(F.array_intersect(tok(F.col("text")), F.col("qt"))).cast(
                    "double"
                )
                / F.size(F.array_distinct(F.concat(tok(F.col("text")), F.col("qt"))))
            ).alias("jac"),
        )
    )
    vec = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(
                    F.transform("embedding", lambda x: x.cast("double")),
                    F.col("qvec"),
                ),
                6,
            ).alias("cos"),
        )
    )
    rl = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("jac").desc(), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    rv = vec.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos").desc(), "doc_id"))
        .cast("long")
        .alias("r_vec"),
    )
    f = rl.join(rv, "doc_id").select(
        "doc_id",
        "r_lex",
        "r_vec",
        F.round(
            1.0 / (60 + F.col("r_lex")) + 1.0 / (60 + F.col("r_vec")), 9
        ).alias("rrf"),
    )
    return f.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rrf").desc(), "doc_id"))
        .cast("long")
        .alias("rn"),
    ).where(F.col("rn") <= 20)


# ---------------------------------------------------------------------------
# Count-min sketch (r3, operators/sketches.py): build the full d×w sketch
# over corpus tokens + estimate 12 probes (incl. an unseen token). The
# sketch is deterministic (portable Horner double-hashing), so the DuckDB
# twin rebuilds it cell-for-cell — build AND estimate are hash-certified.
# ---------------------------------------------------------------------------

_CMS_PROBES = [
    "the", "of", "and", "to", "a", "in", "data", "system",
    "error", "lorem", "document", "zz-never-seen-token",
]


@_q(
    "cms_token_counts",
    "WITH " + SK.cms_sql(_CMS_PROBES) + " SELECT token, est, true_cnt FROM cms_out",
)
def cms_token_counts_q(spark, sf_dir):
    from .operators import sketches

    d = _docs(spark, sf_dir)
    sk = sketches.count_min_build(d)
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "token string")
    est = sketches.count_min_estimate(sk, probes)
    tok = d.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("token")
    )
    tru = tok.groupBy("token").agg(F.count("*").alias("true_cnt"))
    return est.join(tru, "token", "left").select(
        "token", "est", F.coalesce("true_cnt", F.lit(0)).alias("true_cnt")
    )


# HyperLogLog distinct-token estimate (r3, operators/sketches.py): the
# registers AND the estimator are deterministic (portable hash + shared
# bin()-length rank), so the oracle certifies the whole sketch.
@_q(
    "hll_distinct_tokens",
    "WITH " + SK.hll_sql()
    + " SELECT m, nonzero_regs, est, true_distinct FROM hll_out",
)
def hll_distinct_tokens_q(spark, sf_dir):
    from .operators import sketches

    d = _docs(spark, sf_dir)
    est = sketches.hll_estimate(sketches.hll_registers(d))
    tok = d.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("t")
    )
    tru = tok.agg(F.count_distinct("t").alias("true_distinct"))
    return est.crossJoin(F.broadcast(tru))


# ---------------------------------------------------------------------------
# Weighted priority sample (r3): Efraimidis–Spirakis-style fixed-size
# weighted sample made DETERMINISTIC — priority = lehmer_unit(key) / w,
# keep the k smallest. Identical double ops on both engines; integer
# ranks. Long docs (weight = n_chars) are proportionally more likely in.
# ---------------------------------------------------------------------------


@_q(
    "weighted_sample_topk",
    f"WITH p AS (SELECT doc_id, n_chars, "
    f"  {_lehmer_sql('doc_id')} / n_chars AS pri FROM documents WHERE n_chars > 0), "
    "r AS (SELECT doc_id, n_chars, row_number() OVER (ORDER BY pri, doc_id) AS rk FROM p) "
    "SELECT doc_id, n_chars, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 50",
)
def weighted_sample_topk_q(spark, sf_dir):
    from .operators.sampling import lehmer_unit

    d = _docs(spark, sf_dir).where(F.col("n_chars") > 0)
    p = d.select(
        "doc_id",
        "n_chars",
        (lehmer_unit(F.col("doc_id"), 0) / F.col("n_chars")).alias("pri"),
    )
    # distributed TakeOrdered, then the rank window over 50 rows only
    top = p.orderBy("pri", "doc_id").limit(50)
    return top.select(
        "doc_id",
        "n_chars",
        F.row_number()
        .over(Window.orderBy("pri", "doc_id"))
        .cast("long")
        .alias("rk"),
    )


# ---------------------------------------------------------------------------
# Pivot table (r3 continuation): segment × order-year revenue matrix.
# Spark's RelationalGroupedDataset.pivot with EXPLICIT value list — an
# unlisted pivot triggers an extra distinct-values job; listing the years
# keeps it one shuffle. Sums in decimal (order-independent), cast to
# double at the edge. The DuckDB twin uses FILTER aggregates (ANSI
# conditional aggregation — same matrix, no PIVOT extension needed).
# ---------------------------------------------------------------------------

_PIVOT_YEARS = list(range(1995, 2002))


@_q(
    "pivot_revenue",
    "SELECT c_mktsegment, "
    + ", ".join(
        f"CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))) "
        f"FILTER (WHERE year(o_orderdate) = {y}), 0) AS DOUBLE) AS y{y}"
        for y in _PIVOT_YEARS
    )
    + " FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
)
def pivot_revenue_q(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment",
        F.year("o_orderdate").alias("yr"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    piv = (
        j.groupBy("c_mktsegment")
        .pivot("yr", _PIVOT_YEARS)  # explicit values: no discovery job
        .agg(F.sum("price"))
    )
    return piv.select(
        "c_mktsegment",
        *[
            F.coalesce(F.col(str(y)).cast("double"), F.lit(0.0)).alias(f"y{y}")
            for y in _PIVOT_YEARS
        ],
    )


# Decile table (r3 continuation): NTILE(10) over a deterministic total
# order (acctbal, custkey — ties broken by key so both engines agree),
# then per-decile stats. One shuffle for the global sort window, one for
# the decile agg; at 100 TB the global NTILE becomes approx_percentile
# cutpoints + a map-side bucket join (same shape as quantile_band_filter).
@_q(
    "decile_stats",
    "WITH d AS (SELECT c_acctbal, c_custkey, "
    "  ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile FROM customer) "
    "SELECT decile, count(*) AS n, "
    "CAST(min(c_acctbal) AS DOUBLE) AS lo, CAST(max(c_acctbal) AS DOUBLE) AS hi, "
    "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total "
    "FROM d GROUP BY decile",
)
def decile_stats_q(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.orderBy("c_acctbal", "c_custkey")
    d = c.select("c_acctbal", F.ntile(10).over(w).alias("decile"))
    return d.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.min("c_acctbal").cast("double").alias("lo"),
        F.max("c_acctbal").cast("double").alias("hi"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier (r3 continuation): orders not dominated on
# (higher totalprice, earlier orderdate). Dominance: o2 beats o1 iff
# price2 >= price1 AND date2 <= date1 AND one inequality strict. The
# naive plan is an O(n²) theta self-join; this one is two passes:
# (1) per-distinct-price min date (one groupBy), (2) a ROWS-frame running
# min over DISTINCT prices descending — rows with strictly higher price
# are exactly the preceding rows of the deduped frame, so ties need no
# special frame. A row survives iff no strictly-higher price has
# date <= d AND no same-price row has date < d. The oracle is the
# independent NOT EXISTS formulation — same frontier, different algorithm.
# ---------------------------------------------------------------------------


@_q(
    "skyline_orders",
    "SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price, o_orderdate "
    "FROM orders o1 WHERE NOT EXISTS ("
    "  SELECT 1 FROM orders o2 WHERE o2.o_totalprice >= o1.o_totalprice "
    "  AND o2.o_orderdate <= o1.o_orderdate "
    "  AND (o2.o_totalprice > o1.o_totalprice OR o2.o_orderdate < o1.o_orderdate))",
)
def skyline_orders_q(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    per_price = o.groupBy("o_totalprice").agg(
        F.min("o_orderdate").alias("dmin_same")
    )
    w = Window.orderBy(F.col("o_totalprice").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = per_price.select(
        "o_totalprice",
        "dmin_same",
        F.min("dmin_same").over(w).alias("dmin_higher"),
    )
    j = o.join(frontier, "o_totalprice")  # equi-join; AQE picks broadcast when small
    keep = (
        F.col("dmin_higher").isNull() | (F.col("dmin_higher") > F.col("o_orderdate"))
    ) & (F.col("dmin_same") >= F.col("o_orderdate"))
    return j.where(keep).select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderdate",
    )


# ---------------------------------------------------------------------------
# Gopher-style corpus quality rules (r3 continuation): the repetition
# signals live in quality_score_v2; this adds the published STRUCTURAL
# rules (Rae et al. 2021 §A1.1): word-count band, mean-word-length band,
# symbol-to-word ratio (# and ...), bullet-line / ellipsis-line caps,
# alpha-word fraction, and a minimum stop-word hit count. All native
# exprs — one scan, no UDF, no shuffle (per-row projection + filter-free
# output). The corpus has no newlines/symbols, so a deterministic
# replace-all enrichment (shared verbatim with the twin) synthesizes
# bullet lines, ellipses, and '#' tokens for doc_id-dependent subsets —
# every rule path is exercised and hash-checked.
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with", "a"]

_GOPHER_ENRICH_SQL = (
    "replace(replace(replace(text, ' agg ', concat(chr(10), '- agg', chr(10))), "
    "' slow ', ' slow... '), ' hash ', ' #hash ')"
)


def _gopher_sql() -> str:
    stop_hits = " + ".join(
        f"CAST(list_contains(words, '{s}') AS INT)" for s in _GOPHER_STOPS
    )
    return (
        f"WITH g AS (SELECT doc_id, {_GOPHER_ENRICH_SQL} AS t FROM documents), "
        "w AS (SELECT doc_id, t, "
        "  list_filter(string_split_regex(lower(t), '\\s+'), x -> x <> '') AS words, "
        "  list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS lines FROM g), "
        "m AS (SELECT doc_id, len(words) AS n_words, "
        f"  ({stop_hits}) AS stop_hits, "
        "  round(CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) "
        "    / len(words), 6) AS mean_word_len, "
        "  round(CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) "
        "    / len(words), 6) AS frac_alpha, "
        "  round(CAST((len(t) - len(replace(t, '#', ''))) "
        "    + (len(t) - len(replace(t, '...', ''))) / 3 AS DOUBLE) / len(words), 6) "
        "    AS symbol_ratio, "
        "  round(CAST(len(list_filter(lines, x -> starts_with(trim(x), '- ') "
        "    OR starts_with(trim(x), '* '))) AS DOUBLE) / len(lines), 6) AS frac_bullet, "
        "  round(CAST(len(list_filter(lines, x -> ends_with(trim(x), '...'))) AS DOUBLE) "
        "    / len(lines), 6) AS frac_ellipsis "
        "FROM w WHERE len(words) > 0) "
        "SELECT *, (n_words BETWEEN 10 AND 100000 AND mean_word_len BETWEEN 2 AND 10 "
        "AND symbol_ratio <= 0.1 AND frac_bullet <= 0.9 AND frac_ellipsis <= 0.3 "
        "AND frac_alpha >= 0.8 AND stop_hits >= 2) AS passes FROM m"
    )


@_q("gopher_rules", _gopher_sql())
def gopher_rules_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    t = F.replace(
        F.replace(
            F.replace(
                F.col("text"), F.lit(" agg "), F.concat(F.lit("\n- agg"), F.lit("\n"))
            ),
            F.lit(" slow "),
            F.lit(" slow... "),
        ),
        F.lit(" hash "),
        F.lit(" #hash "),
    )
    g = d.select("doc_id", t.alias("t"))
    words = F.filter(F.split(F.lower("t"), r"\s+"), lambda x: x != "")
    lines = F.filter(F.split("t", "\n"), lambda x: F.trim(x) != "")
    w = g.select("doc_id", "t", words.alias("words"), lines.alias("lines"))
    n_words = F.size("words")
    stop_hits = sum(
        F.array_contains("words", s).cast("int") for s in _GOPHER_STOPS
    )
    wordlen_sum = F.aggregate(
        "words", F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_alpha = F.size(F.filter("words", lambda x: x.rlike("[a-z]")))
    n_hash = F.length("t") - F.length(F.replace(F.col("t"), F.lit("#")))
    n_ell = (F.length("t") - F.length(F.replace(F.col("t"), F.lit("...")))) / 3
    n_bullet = F.size(
        F.filter(
            "lines",
            lambda x: F.trim(x).startswith("- ") | F.trim(x).startswith("* "),
        )
    )
    n_ell_line = F.size(F.filter("lines", lambda x: F.trim(x).endswith("...")))
    m = w.where(n_words > 0).select(
        "doc_id",
        n_words.alias("n_words"),
        stop_hits.alias("stop_hits"),
        F.round(wordlen_sum.cast("double") / n_words, 6).alias("mean_word_len"),
        F.round(n_alpha.cast("double") / n_words, 6).alias("frac_alpha"),
        F.round((n_hash + n_ell).cast("double") / n_words, 6).alias("symbol_ratio"),
        F.round(n_bullet.cast("double") / F.size("lines"), 6).alias("frac_bullet"),
        F.round(n_ell_line.cast("double") / F.size("lines"), 6).alias(
            "frac_ellipsis"
        ),
    )
    return m.select(
        "*",
        (
            F.col("n_words").between(10, 100000)
            & F.col("mean_word_len").between(2, 10)
            & (F.col("symbol_ratio") <= 0.1)
            & (F.col("frac_bullet") <= 0.9)
            & (F.col("frac_ellipsis") <= 0.3)
            & (F.col("frac_alpha") >= 0.8)
            & (F.col("stop_hits") >= 2)
        ).alias("passes"),
    )


# ---------------------------------------------------------------------------
# HTML text extraction (r3 continuation): a web-corpus pipeline's first
# transform. Deterministic HTML is synthesized around each doc (tags +
# one entity + paragraph breaks, construction shared verbatim with the
# twin), then extracted back: strip tags, decode entities (&amp; last),
# collapse whitespace. The `roundtrip` column proves extraction inverts
# the wrapping exactly — all native regexp exprs, one scan, zero shuffle.
# DuckDB regexp_replace needs the explicit 'g' flag to match Spark's
# replace-all default.
# ---------------------------------------------------------------------------

_HTML_WRAP_SQL = (
    "concat('<html><body data-src=\"', source, '\"><h1>Doc ', "
    "CAST(doc_id AS VARCHAR), ' &amp; co</h1>', chr(10), '<p>', "
    "replace(text, '. ', '.</p>' || chr(10) || '<p>'), '</p></body></html>')"
)


@_q(
    "html_extract",
    f"WITH h AS (SELECT doc_id, text, {_HTML_WRAP_SQL} AS html FROM documents), "
    "s AS (SELECT doc_id, text, html, "
    "  len(regexp_extract_all(html, '<[^>]*>')) AS n_tags, "
    "  trim(regexp_replace(replace(replace(replace(replace(replace("
    "    regexp_replace(html, '<[^>]*>', ' ', 'g'), "
    "    '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), "
    "    '&amp;', '&'), '\\s+', ' ', 'g')) AS clean_text FROM h) "
    "SELECT doc_id, n_tags, clean_text, "
    "clean_text = concat('Doc ', CAST(doc_id AS VARCHAR), ' & co ', "
    "  trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS roundtrip FROM s",
)
def html_extract_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><body data-src="'),
        F.col("source"),
        F.lit('"><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; co</h1>\n<p>"),
        F.replace(F.col("text"), F.lit(". "), F.lit(".</p>\n<p>")),
        F.lit("</p></body></html>"),
    )
    h = d.select("doc_id", "text", html.alias("html"))
    stripped = F.regexp_replace("html", "<[^>]*>", " ")
    for ent, ch in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ]:
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    s = h.select(
        "doc_id",
        F.regexp_count("html", F.lit("<[^>]*>")).cast("long").alias("n_tags"),
        clean.alias("clean_text"),
        "text",
    )
    expect = F.concat(
        F.lit("Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" & co "),
        F.trim(F.regexp_replace("text", r"\s+", " ")),
    )
    return s.select(
        "doc_id",
        "n_tags",
        "clean_text",
        (F.col("clean_text") == expect).alias("roundtrip"),
    )


# ---------------------------------------------------------------------------
# Match-graph analytics (r3 continuation, operators/graphstats.py): degree
# distribution + per-node triangle counts over a relaxed-threshold match
# graph (0.75 — denser than the 0.8 decision threshold on purpose: the
# diagnostic wants the borderline edges; 0.8 leaves only 8 triangles at
# sf0.01, 0.75 leaves ~23k). Spark runs the Suri–Vassilvitskii
# degree-ordered node-iterator (O(m^1.5) wedges, skew-proof); the oracle
# is the naive canonical-triple 3-way self-join — same triangles, utterly
# different algorithm, so agreement is a real cross-check.
# ---------------------------------------------------------------------------

_GRAPH_THR = 0.75
_GRAPH_EDGES_CTE = (
    _ER_SCORED_CTE
    + f", edges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored "
    f"WHERE 0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard >= {_GRAPH_THR})"
)


def _graph_edges(spark, sf_dir):
    def build():
        s = _er_scored_frame(spark, sf_dir)
        score = (
            _er_score()
        )
        return s.where(score >= _GRAPH_THR).select(
            F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
        )

    return _cached(spark, sf_dir, "graph_edges", build)


@_q(
    "match_graph_degrees",
    f"WITH {_GRAPH_EDGES_CTE}, "
    "deg AS (SELECT node, count(*) AS degree FROM "
    "  (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node) "
    "SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree",
)
def match_graph_degrees_q(spark, sf_dir):
    from .operators import graphstats

    return graphstats.degree_histogram(_graph_edges(spark, sf_dir))


@_q(
    "match_graph_triangles",
    f"WITH {_GRAPH_EDGES_CTE}, "
    "tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z FROM edges e1 "
    "  JOIN edges e2 ON e1.v = e2.u "
    "  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) "
    "SELECT node, count(*) AS n_triangles FROM "
    "  (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node",
)
def match_graph_triangles_q(spark, sf_dir):
    from .operators import graphstats

    return graphstats.triangles_per_node(_graph_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (r3 continuation): the runtime-filter idiom a
# 100 TB semi join lives on — build an m-bit Bloom filter over the small
# side's keys (one groupBy of <= m rows), broadcast the bit SET (not the
# rows), and prune the big side MAP-SIDE before any shuffle touches it.
# The filter is deterministic (integer double-hashing, BIGINT-safe on
# both engines), so the DuckDB twin rebuilds the exact same bit set and
# the oracle certifies build + probe + the measured false-positive count
# per order priority. Spark's own runtime row-group filters do a version
# of this inside AQE; the explicit operator works for ANY small side and
# makes the fp trade measurable.
# ---------------------------------------------------------------------------

_BLOOM_M = 2048  # bits
_BLOOM_K = 3  # probes per key
_BLOOM_A1, _BLOOM_C1 = 48271, 11  # Lehmer multiplier (shared constant)
_BLOOM_A2, _BLOOM_C2 = 16807, 7


def _bloom_positions_col(key):
    h1 = (key * _BLOOM_A1 + _BLOOM_C1) % _BLOOM_M
    h2 = (key * _BLOOM_A2 + _BLOOM_C2) % _BLOOM_M
    return F.array(*[((h1 + i * h2 + i * i) % _BLOOM_M) for i in range(_BLOOM_K)])


def _bloom_positions_sql(key: str) -> str:
    h1 = f"(({key} * {_BLOOM_A1} + {_BLOOM_C1}) % {_BLOOM_M})"
    h2 = f"(({key} * {_BLOOM_A2} + {_BLOOM_C2}) % {_BLOOM_M})"
    return (
        "["
        + ", ".join(f"({h1} + {i} * {h2} + {i * i}) % {_BLOOM_M}" for i in range(_BLOOM_K))
        + "]"
    )


@_q(
    "bloom_prune_join",
    "WITH mem AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'), "
    f"bits AS (SELECT DISTINCT unnest({_bloom_positions_sql('c_custkey')}) AS pos FROM mem), "
    f"op AS (SELECT o_orderkey, o_orderpriority, o_custkey, "
    f"  {_bloom_positions_sql('o_custkey')} AS ps FROM orders), "
    "probe AS (SELECT o_orderkey, o_orderpriority, o_custkey, "
    "  (SELECT count(*) FROM bits WHERE list_contains(ps, pos)) = "
    f"  len(list_distinct(ps)) AS bloom_pass FROM op), "
    "t AS (SELECT p.*, EXISTS (SELECT 1 FROM mem WHERE c_custkey = p.o_custkey) "
    "  AS is_member FROM probe p) "
    "SELECT o_orderpriority, count(*) AS n_orders, "
    "count(*) FILTER (WHERE bloom_pass) AS n_pass, "
    "count(*) FILTER (WHERE is_member) AS n_true, "
    "count(*) FILTER (WHERE bloom_pass AND NOT is_member) AS n_false_pos "
    "FROM t GROUP BY o_orderpriority",
)
def bloom_prune_join_q(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mem = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bits = (
        mem.select(F.explode(_bloom_positions_col(F.col("c_custkey"))).alias("pos"))
        .distinct()
        .agg(F.array_sort(F.collect_set("pos")).alias("bs"))
    )
    probe = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_custkey",
        _bloom_positions_col(F.col("o_custkey")).alias("ps"),
    ).crossJoin(F.broadcast(bits))
    passed = probe.select(
        "o_orderkey",
        "o_orderpriority",
        "o_custkey",
        F.forall("ps", lambda p: F.array_contains("bs", p)).alias("bloom_pass"),
    )
    t = passed.join(
        F.broadcast(mem.withColumnRenamed("c_custkey", "o_custkey")).withColumn(
            "is_member", F.lit(True)
        ),
        "o_custkey",
        "left",
    ).fillna({"is_member": False})
    return t.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count_if("bloom_pass").alias("n_pass"),
        F.count_if("is_member").alias("n_true"),
        F.count_if(F.col("bloom_pass") & ~F.col("is_member")).alias("n_false_pos"),
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill (r3 continuation): resample sparse per-user
# purchase events to a DAILY grid between each user's first and last
# purchase, carrying the last observation forward (LOCF). The grid is a
# per-user sequence/explode (no cross join against a calendar dim), the
# fill is one IGNORE-NULLS window — two shuffles total (per-user agg +
# per-user window). Day values are max(value) per day (deterministic, no
# tie-break divergence); is_gap marks filled rows.
# ---------------------------------------------------------------------------


@_q(
    "gapfill_daily",
    "WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS v "
    "  FROM events WHERE event_type = 'purchase' GROUP BY user_id, CAST(ts AS DATE)), "
    "span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM p GROUP BY user_id), "
    "grid AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) "
    "  AS day FROM span), "
    "j AS (SELECT g.user_id, g.day, p.v FROM grid g LEFT JOIN p "
    "  ON g.user_id = p.user_id AND g.day = p.day) "
    # day as VARCHAR on both engines (pandas-DATE rendering hazard; see
    # orders_monthly note)
    "SELECT user_id, strftime(day, '%Y-%m-%d') AS day, "
    "round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_filled, "
    "v IS NULL AS is_gap FROM j",
)
def gapfill_daily_q(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.max("value").alias("v"))
    )
    span = p.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    j = grid.join(p, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.last("v", ignorenulls=True).over(w), 6).alias("value_filled"),
        F.col("v").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Batch-incremental ER (r3 continuation, operators/incremental_er.py):
# split the corpus deterministically into a committed base (doc_id % 10
# != 0) and an arriving batch (% 10 == 0); cluster the base, elect golden
# records, then assign each batch doc to its best-scoring candidate
# entity via blocking keys — WITHOUT re-clustering the base or re-reading
# its raw text. The oracle replays the whole story in SQL: base ER chain
# (recursive closure), golden election, key-join candidates, score,
# best-of, threshold. Cost scales with the batch; the reference re-runs
# its full matcher per upload (UploadService.run) and has no incremental
# path at all.
# ---------------------------------------------------------------------------


def _keys_sql(src: str, out: str) -> str:
    """pfx/srt blocking keys of a (doc_id, doc_text) CTE, mirroring
    blocking.blocking_keys' defaults (2×4-char prefix, 3 sorted tokens)."""
    return (
        f"{out}_t AS (SELECT doc_id, string_split(doc_text, ' ') AS toks FROM {src}), "
        f"{out} AS (SELECT doc_id, 'pfx' AS pass, "
        f"'pfx:' || array_to_string(list_transform(toks[1:2], t -> t[1:4]), '_') AS block_key "
        f"FROM {out}_t "
        f"UNION ALL SELECT doc_id, 'srt', "
        f"'srt:' || array_to_string(list_sort(list_distinct(toks))[1:3], '_') FROM {out}_t)"
    )


_INCR_SCORE_SQL = (
    "round(0.4 * round(jaro_winkler_similarity(ta, tb), 6) "
    "+ 0.2 * (CASE WHEN greatest(length(ta), length(tb)) = 0 THEN 1.0 "
    "  ELSE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE) / greatest(length(ta), length(tb)) END) "
    "+ 0.4 * (CASE WHEN len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) = 0 THEN 1.0 "
    "  ELSE CAST(len(list_intersect(list_distinct(string_split(ta,' ')), "
    "       list_distinct(string_split(tb,' ')))) AS DOUBLE) "
    "     / len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) END), 6)"
)


def _incr_er_sql() -> str:
    base_scored = (
        "bt AS (SELECT p.doc_id_a, p.doc_id_b, a.doc_text AS ta, b.doc_text AS tb "
        "  FROM bpairs p JOIN base a ON p.doc_id_a = a.doc_id "
        "  JOIN base b ON p.doc_id_b = b.doc_id), "
        "bedges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM ("
        "  SELECT doc_id_a, doc_id_b, "
        "  round(jaro_winkler_similarity(ta, tb), 6) AS jw, "
        "  CASE WHEN greatest(length(ta), length(tb)) = 0 THEN 1.0 "
        "    ELSE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE) / greatest(length(ta), length(tb)) END AS lev_ratio, "
        "  CASE WHEN len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) = 0 THEN 1.0 "
        "    ELSE CAST(len(list_intersect(list_distinct(string_split(ta,' ')), list_distinct(string_split(tb,' ')))) AS DOUBLE) "
        "       / len(list_distinct(string_split(ta,' ') || string_split(tb,' '))) END AS tok_jaccard "
        f"  FROM bt) WHERE {_ER_MATCH_COND})"
    )
    return (
        # Deterministic 1-in-2 corpus sample (doc_id % 2 = 0, identical on
        # the Spark side — VERDICT r4 #3 residue-sampling pattern): the
        # unsampled base chain's full-text lev cost ~133 s at sf0.01, a
        # driver-sample timeout risk. newd (doc_id % 10 = 0) is all even,
        # so the incremental batch itself is unsampled.
        f"WITH RECURSIVE {flatdocs.CANON_CTE}, "
        "base AS MATERIALIZED (SELECT doc_id, doc_text FROM canon "
        "  WHERE doc_id % 10 <> 0 AND doc_id % 2 = 0 AND doc_text <> ''), "
        "newd AS MATERIALIZED (SELECT doc_id, doc_text FROM canon "
        "  WHERE doc_id % 10 = 0 AND doc_text <> ''), "
        + _keys_sql("base", "bkeys")
        + ", bpairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
        "FROM bkeys a JOIN bkeys b ON a.pass = b.pass AND a.block_key = b.block_key "
        "WHERE a.doc_id < b.doc_id), "
        + base_scored
        + ", sym AS MATERIALIZED (SELECT u, v FROM bedges UNION SELECT v, u FROM bedges), "
        "reach(a, b) AS (SELECT doc_id, doc_id FROM base "
        "  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u), "
        "clusters AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a), "
        "ranked AS (SELECT cl.cluster_id, c.doc_text, row_number() OVER ("
        "  PARTITION BY cl.cluster_id ORDER BY length(c.doc_text) DESC, c.doc_id) AS rn "
        "  FROM clusters cl JOIN base c USING (doc_id)), "
        "gold AS MATERIALIZED (SELECT cluster_id AS doc_id, doc_text FROM ranked WHERE rn = 1), "
        + _keys_sql("gold", "gkeys")
        + ", " + _keys_sql("newd", "nkeys")
        + ", cand AS (SELECT DISTINCT n.doc_id, g.doc_id AS cluster_id "
        "FROM nkeys n JOIN gkeys g ON n.pass = g.pass AND n.block_key = g.block_key), "
        "ct AS (SELECT cand.doc_id, cand.cluster_id, n.doc_text AS ta, g.doc_text AS tb "
        "  FROM cand JOIN newd n ON cand.doc_id = n.doc_id "
        "  JOIN gold g ON cand.cluster_id = g.doc_id), "
        f"cs AS (SELECT doc_id, cluster_id, {_INCR_SCORE_SQL} AS score FROM ct), "
        "best AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "  ORDER BY score DESC, cluster_id) AS rn FROM cs) "
        # best_score coalesced to -1.0: a NULL in a numeric column becomes
        # NaN under the driver's pandas .df() collection (float64 column)
        # and hashes "nan" vs Spark's NULL — same coercion class as the
        # HUGEINT twins. Sentinel applied identically on the Spark side.
        "SELECT n.doc_id, "
        "CASE WHEN b.score >= 0.8 THEN b.cluster_id ELSE n.doc_id END AS assigned_cluster, "
        "coalesce(b.score, -1.0) AS best_score, coalesce(b.score >= 0.8, false) AS matched "
        "FROM newd n LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON n.doc_id = b.doc_id"
    )


@_q("er_incremental_match", _incr_er_sql())
def er_incremental_match_q(spark, sf_dir):
    from .operators.clustering import cluster_nodes, golden_records
    from .operators.incremental_er import incremental_match

    def build():
        canon = _canon(spark, sf_dir).where(F.col("doc_text") != "")
        # base sampled 1-in-2 (doc_id % 2 == 0), mirroring the oracle —
        # see _incr_er_sql's sampling note
        base = (
            canon.where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 2 == 0))
            .select("doc_id", "doc_text")
        )
        newd = canon.where(F.col("doc_id") % 10 == 0).select("doc_id", "doc_text")
        from .operators.incremental_er import _text_keys

        bkeys = _text_keys(base)
        from .operators import blocking

        salted = bkeys.withColumn("salt", F.lit(0))
        pairs = blocking.candidate_pairs(salted, cache=False)
        a = base.select(F.col("doc_id").alias("doc_id_a"), F.col("doc_text").alias("ta"))
        b = base.select(F.col("doc_id").alias("doc_id_b"), F.col("doc_text").alias("tb"))
        t = pairs.join(a, "doc_id_a").join(b, "doc_id_b")
        sa = F.array_distinct(F.split("ta", " "))
        sb = F.array_distinct(F.split("tb", " "))
        un = F.size(F.array_union(sa, sb))
        tok_jac = F.when(un == 0, F.lit(1.0)).otherwise(
            F.size(F.array_intersect(sa, sb)).cast("double") / un.cast("double")
        )
        score = (
            0.4 * F.round(jaro_winkler(F.col("ta"), F.col("tb")), 6)
            + 0.2 * levenshtein_ratio(F.col("ta"), F.col("tb"))
            + 0.4 * tok_jac
        )
        edges = t.where(score >= 0.8).select("doc_id_a", "doc_id_b")
        clusters = cluster_nodes(base, edges)
        gold = golden_records(clusters, base).select(
            "cluster_id", "rep_text"
        )
        return (
            incremental_match(newd, gold)
            # NULL best_score → -1.0 sentinel, mirroring the oracle (see
            # _incr_er_sql's coalesce note)
            .withColumn("best_score", F.coalesce("best_score", F.lit(-1.0)))
            .localCheckpoint(eager=True)
        )

    return _cached(spark, sf_dir, "er_incremental", build)


# ---------------------------------------------------------------------------
# Z-order layout pruning stats (r3 continuation, sources/layout.py): rank
# orders along the Morton curve of (custkey bucket, date bucket), cut the
# ranking into 64 equal "files", and report each file's min/max of both
# dims plus whether a fixed 2D box predicate could skip it — side by side
# with the same stats for a plain date-sorted layout. The z-order layout
# prunes FAR more files for the 2D box (the whole point of multi-dim
# clustering); both layouts and the verdicts are integer-exact, so the
# twin certifies the interleave math bit-for-bit. The sf windows are
# global (single partition, fine at test scale); write_zordered does the
# real thing with repartitionByRange — no global sort at cluster scale.
# ---------------------------------------------------------------------------

_ZO_FILES = 64
_ZO_BOX = (32, 63, 64, 95)  # x in [32,63], y in [64,95]


def _zo_xy_sql() -> str:
    return (
        "SELECT o_orderkey, o_custkey % 256 AS x, "
        "(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) // 10) % 256 AS y "
        "FROM orders"
    )


@_q(
    "zorder_prune_stats",
    "WITH o AS (" + _zo_xy_sql() + "), "
    "z AS (SELECT *, " + _zorder_key_sql("x", "y") + " AS zv FROM o), "
    "r AS (SELECT *, row_number() OVER (ORDER BY zv, o_orderkey) - 1 AS rnz, "
    "  row_number() OVER (ORDER BY y, x, o_orderkey) - 1 AS rnd, "
    "  count(*) OVER () AS n FROM z), "
    f"f AS (SELECT 'zorder' AS layout, CAST(rnz * {_ZO_FILES} // n AS INT) AS file_id, x, y FROM r "
    f"  UNION ALL SELECT 'datesort', CAST(rnd * {_ZO_FILES} // n AS INT), x, y FROM r), "
    "g AS (SELECT layout, file_id, min(x) AS min_x, max(x) AS max_x, "
    "  min(y) AS min_y, max(y) AS max_y, count(*) AS n_rows FROM f GROUP BY layout, file_id) "
    f"SELECT *, (min_x <= {_ZO_BOX[1]} AND max_x >= {_ZO_BOX[0]} "
    f"AND min_y <= {_ZO_BOX[3]} AND max_y >= {_ZO_BOX[2]}) AS may_contain FROM g",
)
def zorder_prune_stats_q(spark, sf_dir):
    from .sources.layout import zorder_key

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.floor(
                F.datediff(
                    F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
                )
                / 10
            )
            % 256
        ).alias("y"),
    )
    z = o.select("*", zorder_key(F.col("x"), F.col("y")).alias("zv"))
    wz = Window.orderBy("zv", "o_orderkey")
    wd = Window.orderBy("y", "x", "o_orderkey")
    r = z.select(
        "*",
        (F.row_number().over(wz) - 1).alias("rnz"),
        (F.row_number().over(wd) - 1).alias("rnd"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    f = r.select(
        F.lit("zorder").alias("layout"),
        ((F.col("rnz") * _ZO_FILES) / F.col("n")).cast("int").alias("file_id"),
        "x",
        "y",
    ).unionAll(
        r.select(
            F.lit("datesort").alias("layout"),
            ((F.col("rnd") * _ZO_FILES) / F.col("n")).cast("int").alias("file_id"),
            "x",
            "y",
        )
    )
    g = f.groupBy("layout", "file_id").agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.count("*").alias("n_rows"),
    )
    x0, x1, y0, y1 = _ZO_BOX
    return g.select(
        "*",
        (
            (F.col("min_x") <= x1)
            & (F.col("max_x") >= x0)
            & (F.col("min_y") <= y1)
            & (F.col("max_y") >= y0)
        ).alias("may_contain"),
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (r3 continuation): purchases attributed to
# same-user views in the preceding 2 hours, run as a REAL watermarked
# stream-stream join (both sides are file streams; state bounded by the
# watermarks). Inner join + append mode emits exactly the batch result
# once the bounded streams drain — which is the twin: a plain SQL theta
# join on the same condition. Lags in integer microseconds (exact).
# ---------------------------------------------------------------------------


@_q(
    "stream_stream_join",
    "SELECT v.event_id AS view_id, p.event_id AS buy_id, v.user_id, "
    "epoch_us(p.ts) - epoch_us(v.ts) AS lag_us "
    "FROM events v JOIN events p ON v.user_id = p.user_id "
    "AND v.event_type = 'view' AND p.event_type = 'purchase' "
    "AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR",
)
def stream_stream_join_q(spark, sf_dir):
    from .streaming.incremental import run_stream_to_memory, stream_stream_attribution

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _src():
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    views = _src().where(F.col("event_type") == "view")
    buys = _src().where(F.col("event_type") == "purchase")
    j = stream_stream_attribution(views, buys, window="2 hours")
    return run_stream_to_memory(
        spark, j, "stream_stream_join_sink", output_mode="append"
    )


# ---------------------------------------------------------------------------
# Snapshot diff (r3 continuation, operators/cdc.py): audit a CDC apply by
# row-diffing the before/after snapshots — added / deleted / changed /
# unchanged per key. The changelog here extends cdc_apply_orders' with a
# batch of INSERTS (fresh keys) so every status is exercised. One full
# outer join; presence judged by marker columns, not nullable payload.
# ---------------------------------------------------------------------------

_SNAPDIFF_CH_CTE = (
    "ch AS (SELECT o_orderkey, 'U' AS op, 1 AS seq, "
    "  o_totalprice + 100 AS o_totalprice, o_orderstatus FROM orders "
    "  WHERE o_orderkey % 3 = 0 "
    "UNION ALL SELECT o_orderkey, "
    "  CASE WHEN o_orderkey % 18 = 0 THEN 'D' ELSE 'U' END, 2, "
    "  o_totalprice + 200, o_orderstatus FROM orders WHERE o_orderkey % 9 = 0 "
    "UNION ALL SELECT o_orderkey + 10000000, 'U', 3, "
    "  o_totalprice + 500, o_orderstatus FROM orders WHERE o_orderkey % 50 = 0), "
    "w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey "
    "  ORDER BY seq DESC, op DESC) AS rn FROM ch), "
    "win AS (SELECT * FROM w WHERE rn = 1)"
)


@_q(
    "snapshot_diff",
    f"WITH {_SNAPDIFF_CH_CTE}, "
    "applied AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
    "  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM win) "
    "  UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus FROM win WHERE op <> 'D'), "
    "o AS (SELECT o_orderkey, o_totalprice AS old_o_totalprice, "
    "  o_orderstatus AS old_o_orderstatus, true AS in_old FROM orders), "
    "n AS (SELECT o_orderkey, o_totalprice AS new_o_totalprice, "
    "  o_orderstatus AS new_o_orderstatus, true AS in_new FROM applied) "
    "SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey, "
    "CASE WHEN in_old IS NULL THEN 'added' WHEN in_new IS NULL THEN 'deleted' "
    "  WHEN old_o_totalprice IS NOT DISTINCT FROM new_o_totalprice "
    "   AND old_o_orderstatus IS NOT DISTINCT FROM new_o_orderstatus THEN 'unchanged' "
    "  ELSE 'changed' END AS status, "
    # added/deleted rows carry NULL prices — NaN sentinels keep the
    # driver's pandas .df() float64 column from rendering "nan" against
    # Spark's NULL (r5 type-path class); no real price is NaN
    "coalesce(old_o_totalprice, CAST('nan' AS DOUBLE)) AS old_o_totalprice, "
    "coalesce(new_o_totalprice, CAST('nan' AS DOUBLE)) AS new_o_totalprice, "
    "old_o_orderstatus, new_o_orderstatus "
    "FROM o FULL OUTER JOIN n USING (o_orderkey)",
)
def snapshot_diff_q(spark, sf_dir):
    from .operators.cdc import cdc_apply, snapshot_diff

    base = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    c1 = base.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
        "o_orderstatus",
    )
    c2 = base.where(F.col("o_orderkey") % 9 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 18 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.lit(2).alias("seq"),
        (F.col("o_totalprice") + 200).alias("o_totalprice"),
        "o_orderstatus",
    )
    c3 = base.where(F.col("o_orderkey") % 50 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("U").alias("op"),
        F.lit(3).alias("seq"),
        (F.col("o_totalprice") + 500).alias("o_totalprice"),
        "o_orderstatus",
    )
    applied = cdc_apply(base, c1.unionByName(c2).unionByName(c3), key="o_orderkey")
    nan = F.lit(float("nan"))
    return snapshot_diff(
        base, applied, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    ).select(
        "o_orderkey",
        "status",
        F.coalesce("old_o_totalprice", nan).alias("old_o_totalprice"),
        F.coalesce("new_o_totalprice", nan).alias("new_o_totalprice"),
        "old_o_orderstatus",
        "new_o_orderstatus",
    )


# ---------------------------------------------------------------------------
# Threshold-stability diff (r3 continuation): the ER analyst's question
# "what breaks if I raise the match threshold to 0.85?" answered as data —
# per 0.8-cluster, its member count and how many 0.85-subclusters it
# shatters into (every 0.85 edge is also a 0.8 edge, so clusters only
# split, never merge — n_subclusters >= 1, and the assertion is tested).
# Spark runs connected components twice on filtered edge sets (the scored
# frame is computed once, cached); the oracle runs two recursive
# closures.
# ---------------------------------------------------------------------------

_ER_STRICT_COND = "0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard >= 0.85"


@_q(
    "er_threshold_stability",
    f"WITH RECURSIVE {_ER_SCORED_CTE}, "
    f"e1 AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_MATCH_COND}), "
    f"e2 AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_STRICT_COND}), "
    "s1 AS (SELECT u, v FROM e1 UNION SELECT v, u FROM e1), "
    "s2 AS (SELECT u, v FROM e2 UNION SELECT v, u FROM e2), "
    "r1(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM r1 r JOIN s1 s ON r.b = s.u), "
    "r2(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM r2 r JOIN s2 s ON r.b = s.u), "
    "c1 AS (SELECT a AS doc_id, min(b) AS cluster_lo FROM r1 GROUP BY a), "
    "c2 AS (SELECT a AS doc_id, min(b) AS cluster_hi FROM r2 GROUP BY a) "
    "SELECT cluster_lo, count(*) AS n_members, "
    "count(DISTINCT cluster_hi) AS n_subclusters "
    "FROM c1 JOIN c2 USING (doc_id) GROUP BY cluster_lo",
)
def er_threshold_stability_q(spark, sf_dir):
    from .operators.clustering import cluster_nodes

    s = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    canon, _, _ = _er_frames(spark, sf_dir)
    ids = canon.select("doc_id")

    def clusters_at(cond, name):
        edges = s.where(cond).select("doc_id_a", "doc_id_b")
        return cluster_nodes(ids, edges).withColumnRenamed("cluster_id", name)

    lo = clusters_at(score >= 0.8, "cluster_lo")
    hi = clusters_at(score >= 0.85, "cluster_hi")
    return (
        lo.join(hi, "doc_id")
        .groupBy("cluster_lo")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("cluster_hi").alias("n_subclusters"),
        )
    )


# ---------------------------------------------------------------------------
# HLL mergeability (r3 continuation, operators/sketches.py): per-language
# register sets, each language's estimate, PLUS the merged 'zh+es'
# estimate from cell-wise max of the two register sets — demonstrating
# the property that makes HLL the distributed sketch (merged registers ==
# registers of the union, exactly). true_distinct per label certifies the
# relation end-to-end; every register and both estimates are
# hash-checked.
# ---------------------------------------------------------------------------

_HLL_MERGE_LANGS = ("zh", "es")


@_q(
    "hll_merge_langs",
    "WITH " + SK.hll_grouped_sql("lang")
    + ", regs AS (SELECT \"group\" AS label, bucket, reg FROM hllg "
    "  UNION ALL SELECT "
    f"  '{_HLL_MERGE_LANGS[0]}+{_HLL_MERGE_LANGS[1]}', bucket, max(reg) FROM hllg "
    f"  WHERE \"group\" IN ('{_HLL_MERGE_LANGS[0]}', '{_HLL_MERGE_LANGS[1]}') "
    "  GROUP BY bucket), "
    "est AS (" + SK.HLL_EST_SQL + "), "
    "gtok2 AS (SELECT lang, unnest(list_filter(string_split_regex(lower(text), "
    "  '\\s+'), x -> x <> '')) AS t FROM documents), "
    "tru AS (SELECT lang AS label, count(DISTINCT t) AS true_distinct FROM gtok2 GROUP BY lang "
    f"  UNION ALL SELECT '{_HLL_MERGE_LANGS[0]}+{_HLL_MERGE_LANGS[1]}', count(DISTINCT t) "
    f"  FROM gtok2 WHERE lang IN ('{_HLL_MERGE_LANGS[0]}', '{_HLL_MERGE_LANGS[1]}') "
    ") SELECT label, nonzero_regs, est, true_distinct FROM est JOIN tru USING (label)",
)
def hll_merge_langs_q(spark, sf_dir):
    from .operators import sketches

    d = _docs(spark, sf_dir)
    by = sketches.hll_registers_by(d, "lang").localCheckpoint(eager=True)
    merged = sketches.hll_merge(by, list(_HLL_MERGE_LANGS)).select(
        F.lit("+".join(_HLL_MERGE_LANGS)).alias("group"), "bucket", "reg"
    )
    regs = by.unionByName(merged)
    est = sketches.hll_estimate_grouped(regs).withColumnRenamed("group", "label")
    tok = d.select(
        "lang",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("t"),
    )
    tru = tok.groupBy(F.col("lang").alias("label")).agg(
        F.count_distinct("t").alias("true_distinct")
    )
    tru_merged = (
        tok.where(F.col("lang").isin(list(_HLL_MERGE_LANGS)))
        .agg(F.count_distinct("t").alias("true_distinct"))
        .select(F.lit("+".join(_HLL_MERGE_LANGS)).alias("label"), "true_distinct")
    )
    return est.join(tru.unionByName(tru_merged), "label")


# CMS join-cardinality estimate (r3 continuation): size the
# orders ⋈ BUILDING-customers join from two tiny sketches without
# touching either table again — the planner-statistics use of count-min.
# The estimate is deterministic (hash-certified); its distance from
# true_n is the documented collision bound, also reported.
@_q(
    "cms_join_cardinality",
    "WITH " + SK.cms_keys_sql("orders", "o_custkey", "ska") + ", "
    + SK.cms_keys_sql(
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
        "c_custkey",
        "skb",
    )
    + ", ip AS (SELECT a.r, sum(a.cnt * b.cnt) AS ip FROM ska a "
    "JOIN skb b ON a.r = b.r AND a.col = b.col GROUP BY a.r), "
    "est AS (SELECT CAST(4 AS INT) AS d, CAST(1024 AS INT) AS w, CAST(min(ip) AS BIGINT) AS est FROM ip), "
    "tru AS (SELECT count(*) AS true_n FROM orders o JOIN customer c "
    "  ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = 'BUILDING') "
    "SELECT d, w, est, true_n FROM est, tru",
)
def cms_join_cardinality_q(spark, sf_dir):
    from .operators import sketches

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    ska = sketches.cms_build_keys(o, "o_custkey")
    skb = sketches.cms_build_keys(c, "c_custkey")
    est = sketches.cms_join_estimate(ska, skb)
    tru = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count("*").alias("true_n"))
    )
    return est.crossJoin(F.broadcast(tru))


# Suffix-array blocking census (r3 continuation, operators/blocking.py):
# every >=4-char suffix of the leading canonical token is a key; blocks
# over the frequency cap are dropped. Catches prefix typos the pfx pass
# misses ('jonathan'/'johnathan' share 'nathan'). Output: surviving
# multi-doc blocks with sizes.
@_q(
    "suffix_blocks",
    f"WITH {flatdocs.CANON_CTE}, "
    "t AS (SELECT doc_id, string_split(doc_text, ' ')[1] AS t FROM canon "
    "  WHERE length(string_split(doc_text, ' ')[1]) >= 4), "
    "k AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "  range(1, length(t) - 4 + 2), i -> t[CAST(i AS INT):])) AS block_key FROM t), "
    "census AS (SELECT block_key, count(*) AS n_docs FROM k GROUP BY block_key) "
    "SELECT block_key, n_docs FROM census WHERE n_docs BETWEEN 2 AND 50",
)
def suffix_blocks_q(spark, sf_dir):
    from .operators.blocking import suffix_blocking_keys

    canon, _, _ = _er_frames(spark, sf_dir)
    keyed = suffix_blocking_keys(canon, min_len=4, max_block=50)
    return (
        keyed.groupBy("block_key")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


# Field-level survivorship (r3 continuation, clustering.golden_fields):
# the golden record composed per ATTRIBUTE — longest text, modal lang
# (tie -> smallest), highest-priority source (lowest numeric suffix) —
# where er_golden_records picks one whole member row.
@_q(
    "er_golden_fields",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    "j AS (SELECT cl.cluster_id, c.doc_id, c.doc_text, c.lang, c.source "
    "  FROM clusters cl JOIN canon c USING (doc_id)), "
    "r1 AS (SELECT cluster_id, doc_text, count(*) OVER (PARTITION BY cluster_id) AS n_members, "
    "  row_number() OVER (PARTITION BY cluster_id "
    "  ORDER BY length(doc_text) DESC, doc_id) AS rn FROM j), "
    "r2 AS (SELECT cluster_id, source, row_number() OVER (PARTITION BY cluster_id "
    "  ORDER BY coalesce(TRY_CAST(regexp_extract(source, '^src(\\d{1,18})$', 1) AS BIGINT), "
    "    4611686018427387904), source) AS rn FROM j), "
    "lc AS (SELECT cluster_id, lang, count(*) AS n FROM j GROUP BY cluster_id, lang), "
    "r3 AS (SELECT cluster_id, lang, row_number() OVER (PARTITION BY cluster_id "
    "  ORDER BY n DESC, lang) AS rn FROM lc) "
    "SELECT r1.cluster_id, CAST(r1.n_members AS BIGINT) AS n_members, "
    "r1.doc_text AS rep_text, r3.lang AS modal_lang, r2.source AS best_source "
    "FROM r1 JOIN r2 ON r1.cluster_id = r2.cluster_id AND r2.rn = 1 "
    "JOIN r3 ON r1.cluster_id = r3.cluster_id AND r3.rn = 1 WHERE r1.rn = 1",
)
def er_golden_fields_q(spark, sf_dir):
    from .operators.clustering import golden_fields

    canon, _, _ = _er_frames(spark, sf_dir)
    clusters = er_clusters(spark, sf_dir)
    docs = canon.select("doc_id", "doc_text", "lang", "source")
    return golden_fields(clusters, docs)


# Accent folding (r3 continuation, functions/canonicalize.py): the corpus
# is ASCII, so the query ACCENTS it first (translate with a per-doc-id
# vowel mapping, shared verbatim with the twin), folds it back, and
# proves the round trip — both directions certified on both engines.
_ACC_VARIANTS = ["àéîõü", "áèïôū", "âëìöù"]


@_q(
    "accent_fold",
    "SELECT doc_id, accented, "
    + C.fold_accents_sql("accented") + " AS folded, "
    + C.fold_accents_sql("accented") + " = text AS roundtrip "
    "FROM (SELECT doc_id, text, CASE doc_id % 3 "
    + " ".join(
        f"WHEN {i} THEN translate(text, 'aeiou', '{v}')"
        for i, v in enumerate(_ACC_VARIANTS)
    )
    + " END AS accented FROM documents)",
)
def accent_fold_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    acc = F
    for i, v in enumerate(_ACC_VARIANTS):
        cond = (F.col("doc_id") % 3 == i, F.translate("text", "aeiou", v))
        acc = F.when(*cond) if i == 0 else acc.when(*cond)
    a = d.select("doc_id", "text", acc.alias("accented"))
    folded = C.fold_accents(F.col("accented"))
    return a.select(
        "doc_id",
        "accented",
        folded.alias("folded"),
        (folded == F.col("text")).alias("roundtrip"),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood pairs (r3 continuation): the classic SNM blocking
# pass (Hernández & Stolfo '95) as a driver query — blocking.py's
# seam-exact distributed implementation (range partitions + per-partition
# ranks + driver-side offsets; no single global sort reducer) vs a plain
# row_number sliding-window twin.
# ---------------------------------------------------------------------------


@_q(
    "snm_pairs",
    f"WITH {flatdocs.CANON_CTE}, "
    "r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_text, doc_id) AS rk "
    "  FROM canon WHERE doc_text <> ''), "
    "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM r a JOIN r b "
    "  ON b.rk > a.rk AND b.rk - a.rk < 5) "
    "SELECT DISTINCT least(ia, ib) AS doc_id_a, greatest(ia, ib) AS doc_id_b FROM p",
)
def snm_pairs_q(spark, sf_dir):
    from .operators.blocking import sorted_neighborhood_pairs

    canon, _, _ = _er_frames(spark, sf_dir)
    return sorted_neighborhood_pairs(canon, window=5)


# Adaptive sorted neighborhood (boundary-cut segments instead of a fixed
# window): adjacent sort keys with normalized edit distance >= 1/2 start
# a new segment; all within-segment pairs (sub-split every 50 rows) are
# candidates. The boundary rule is integer cross-multiplied so both
# engines cut the sorted sequence at identical rows.
@_q(
    "adaptive_snm_pairs",
    f"WITH {flatdocs.CANON_CTE}, "
    "ar AS (SELECT doc_id, doc_text AS snk, "
    "  row_number() OVER (ORDER BY doc_text, doc_id) AS g "
    "  FROM canon WHERE doc_text <> ''), "
    "af AS (SELECT b.doc_id, b.g, CASE WHEN a.g IS NULL THEN 0 "
    "  WHEN levenshtein(a.snk, b.snk) * 2 >= greatest(length(a.snk), length(b.snk)) * 1 "
    "  THEN 1 ELSE 0 END AS flag FROM ar b LEFT JOIN ar a ON a.g = b.g - 1), "
    "aseg AS (SELECT doc_id, g, "
    "  sum(flag) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM af), "
    "asub AS (SELECT doc_id, g, seg, "
    "  (row_number() OVER (PARTITION BY seg ORDER BY g) - 1) // 50 AS sub FROM aseg) "
    "SELECT least(a.doc_id, b.doc_id) AS doc_id_a, "
    "greatest(a.doc_id, b.doc_id) AS doc_id_b "
    "FROM asub a JOIN asub b ON a.seg = b.seg AND a.sub = b.sub AND b.g > a.g",
)
def adaptive_snm_pairs_q(spark, sf_dir):
    from .operators.blocking import adaptive_snm_pairs

    canon, _, _ = _er_frames(spark, sf_dir)
    return adaptive_snm_pairs(canon, num=1, den=2, max_segment=50)


# ---------------------------------------------------------------------------
# Portable minhash estimator certification (r3 continuation): the LSH
# dedup path estimates Jaccard from signature agreement; this query
# CERTIFIES the estimator itself — a K=32 double-hashed minhash (portable
# Horner pair, exact integer math on both engines) next to the true
# shingle Jaccard for every >=0.5 pair. est_j is hash-checked exactly;
# its distance from true_j is the reported abs_err (std err ~ 0.088 at
# K=32 — the numbers a threshold-tuning analyst needs).
# ---------------------------------------------------------------------------

_MH_K = 32
_MH_M = 2147483647


def _mh_sig_sql() -> str:
    from .operators.dedup import SIMHASH_B1, SIMHASH_B2
    from .operators.sketches import _horner_sql

    h1, h2 = _horner_sql("g", SIMHASH_B1), _horner_sql("g", SIMHASH_B2)
    return (
        "sigs AS MATERIALIZED (SELECT doc_id, "
        f"list_transform(range(0, {_MH_K}), i -> "
        f"list_min(list_transform(s, g -> ({h1} + i * {h2} + i * i) % {_MH_M}))"
        ") AS sig FROM sh)"
    )


@_q(
    "minhash_est_check",
    f"WITH {_NGRAM_SH_CTE}, " + _mh_sig_sql() + ", "
    "tp AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, "
    "  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)), 6) AS true_j "
    "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5), "
    "e AS (SELECT t.doc_id_a, t.doc_id_b, t.true_j, "
    f"  round(CAST(len(list_filter(range(1, {_MH_K} + 1), "
    f"    i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS DOUBLE) / {_MH_K}, 6) AS est_j "
    "  FROM tp t JOIN sigs sa ON t.doc_id_a = sa.doc_id "
    "  JOIN sigs sb ON t.doc_id_b = sb.doc_id) "
    "SELECT doc_id_a, doc_id_b, true_j, est_j, round(abs(true_j - est_j), 6) AS abs_err FROM e",
)
def minhash_est_check_q(spark, sf_dir):
    from .operators.dedup import SIMHASH_B1, SIMHASH_B2, _horner_hash, _shingles

    d = _docs(spark, sf_dir)
    # _shingles already matches _NGRAM_SH_CTE exactly (3-gram slices,
    # whole-text fallback under 3 tokens) — ngram_dup_pairs certifies it
    sh = d.select("doc_id", _shingles(F.col("text"), 3).alias("s"))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(_MH_K - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("s"),
                lambda t: (
                    _horner_hash(t, SIMHASH_B1)
                    + i * _horner_hash(t, SIMHASH_B2)
                    + i * i
                )
                % _MH_M,
            )
        ),
    )
    sigs = sh.select("doc_id", sig.alias("sig")).localCheckpoint(eager=True)
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb"))
    un = F.size(F.array_union(F.col("sa"), F.col("sb")))
    jac = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double") / un
    tp = (
        a.crossJoin(b)
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .where(jac >= 0.5)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("true_j"))
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("siga", "sigb", lambda x, y: x == y), lambda z: z
            )
        ).cast("double")
        / _MH_K,
        6,
    )
    e = (
        tp.join(
            sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("siga")),
            "doc_id_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sigb")),
            "doc_id_b",
        )
        .select("doc_id_a", "doc_id_b", "true_j", est.alias("est_j"))
    )
    return e.select(
        "*", F.round(F.abs(F.col("true_j") - F.col("est_j")), 6).alias("abs_err")
    )


# ---------------------------------------------------------------------------
# Robust outliers via MAD (r3 continuation): median / median-absolute-
# deviation per event type with percentile_disc (an ORDER STATISTIC —
# actual data values, so both engines agree exactly, unlike interpolated
# medians of arbitrary doubles); robust z = (v - med) / (1.4826 * mad).
# Complements event_anomalies' mean/std z-scores (which a few huge
# values drag; MAD doesn't budge).
# ---------------------------------------------------------------------------


@_q(
    "event_mad_outliers",
    "WITH m AS (SELECT event_type, quantile_disc(value, 0.5) AS med FROM events GROUP BY event_type), "
    "d AS (SELECT e.event_id, e.event_type, e.value, m.med, abs(e.value - m.med) AS ad "
    "  FROM events e JOIN m USING (event_type)), "
    "md AS (SELECT event_type, quantile_disc(ad, 0.5) AS mad FROM d GROUP BY event_type) "
    "SELECT d.event_id, d.event_type, d.value, d.med, md.mad, "
    "round((d.value - d.med) / (1.4826 * md.mad), 6) AS robust_z "
    "FROM d JOIN md USING (event_type) "
    "WHERE md.mad > 0 AND abs((d.value - d.med) / (1.4826 * md.mad)) > 3",
)
def event_mad_outliers_q(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    m = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med")
    )
    d = e.join(m, "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    md = d.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)").alias("mad")
    )
    z = (F.col("value") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        d.join(md, "event_type")
        .where((F.col("mad") > 0) & (F.abs(z) > 3))
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            F.round(z, 6).alias("robust_z"),
        )
    )


# Cross-source conflict report (r3 continuation): clusters whose members
# disagree on source/lang — the review-queue feed for survivorship rules.
@_q(
    "er_source_conflicts",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    "j AS (SELECT cl.cluster_id, c.lang, c.source FROM clusters cl "
    "  JOIN canon c USING (doc_id)) "
    "SELECT cluster_id, count(*) AS n_members, "
    "count(DISTINCT source) AS n_sources, count(DISTINCT lang) AS n_langs, "
    "count(DISTINCT lang) > 1 AS lang_conflict "
    "FROM j GROUP BY cluster_id HAVING count(*) > 1",
)
def er_source_conflicts_q(spark, sf_dir):
    canon, _, _ = _er_frames(spark, sf_dir)
    clusters = er_clusters(spark, sf_dir)
    j = clusters.join(canon.select("doc_id", "lang", "source"), "doc_id")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .where(F.col("n_members") > 1)
        .select("*", (F.col("n_langs") > 1).alias("lang_conflict"))
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (r3 continuation): a daily
# revenue MV must absorb a CDC batch WITHOUT a full recompute — recompute
# only the days the changelog touches (old rows' days ∪ new rows' days),
# pass every other day through from the previous MV. The oracle is the
# FULL recompute over the applied snapshot, so a hash match proves the
# delta path's result is indistinguishable from rebuilding — the whole
# contract of incremental view maintenance. Cost ∝ changed days, not
# history (the pass-through is an anti-join; the recompute scans only
# affected-day rows — at 100 TB with date-partitioned layout that's
# partition pruning, not a filter).
# ---------------------------------------------------------------------------


_MV_CH_CTE = (
    "ch AS (SELECT o_orderkey, 'U' AS op, 1 AS seq, "
    "  o_totalprice + 100 AS o_totalprice, o_orderdate FROM orders WHERE o_orderkey % 3 = 0 "
    "UNION ALL SELECT o_orderkey, CASE WHEN o_orderkey % 18 = 0 THEN 'D' ELSE 'U' END, 2, "
    "  o_totalprice + 200, o_orderdate FROM orders WHERE o_orderkey % 9 = 0 "
    "UNION ALL SELECT o_orderkey + 10000000, 'U', 3, "
    "  o_totalprice + 500, o_orderdate FROM orders WHERE o_orderkey % 50 = 0), "
    "w AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey "
    "  ORDER BY seq DESC, op DESC) AS rn FROM ch), "
    "win AS (SELECT * FROM w WHERE rn = 1)"
)


@_q(
    "mv_incremental",
    f"WITH {_MV_CH_CTE}, "
    "applied AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
    "  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM win) "
    "  UNION ALL SELECT o_orderkey, o_totalprice, o_orderdate FROM win WHERE op <> 'D'), "
    "aff AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders "
    "  WHERE o_orderkey IN (SELECT o_orderkey FROM ch) "
    "  UNION SELECT DISTINCT CAST(o_orderdate AS DATE) FROM applied "
    "  WHERE o_orderkey IN (SELECT o_orderkey FROM ch)) "
    # day as VARCHAR on both engines (pandas-DATE rendering hazard; see
    # orders_monthly note)
    "SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
    "count(*) AS n_orders, "
    "CAST(o_orderdate AS DATE) IN (SELECT day FROM aff) AS recomputed "
    "FROM applied GROUP BY CAST(o_orderdate AS DATE)",
)
def mv_incremental_q(spark, sf_dir):
    from .operators.cdc import cdc_apply

    base = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )

    def mk(df, key, op, seq, dprice):
        return df.select(
            key.alias("o_orderkey"),
            op.alias("op"),
            F.lit(seq).alias("seq"),
            (F.col("o_totalprice") + dprice).alias("o_totalprice"),
            "o_orderdate",
        )

    c1 = mk(
        base.where(F.col("o_orderkey") % 3 == 0), F.col("o_orderkey"), F.lit("U"), 1, 100
    )
    c2 = mk(
        base.where(F.col("o_orderkey") % 9 == 0),
        F.col("o_orderkey"),
        F.when(F.col("o_orderkey") % 18 == 0, F.lit("D")).otherwise(F.lit("U")),
        2,
        200,
    )
    c3 = mk(
        base.where(F.col("o_orderkey") % 50 == 0),
        F.col("o_orderkey") + 10000000,
        F.lit("U"),
        3,
        500,
    )
    ch = c1.unionByName(c2).unionByName(c3)
    applied = cdc_apply(base, ch, key="o_orderkey").withColumn(
        "day", F.col("o_orderdate").cast("date")
    )
    based = base.withColumn("day", F.col("o_orderdate").cast("date"))
    rev = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue")
    )
    # previous MV (in production: the committed table; rebuilt here so the
    # query is self-contained) + the delta path
    old_mv = based.groupBy("day").agg(rev, F.count("*").alias("n_orders"))
    ch_keys = ch.select("o_orderkey").distinct()
    aff = (
        based.join(ch_keys, "o_orderkey")
        .select("day")
        .unionByName(applied.join(ch_keys, "o_orderkey").select("day"))
        .distinct()
    )
    recomputed = (
        applied.join(F.broadcast(aff), "day")
        .groupBy("day")
        .agg(rev, F.count("*").alias("n_orders"))
        .select("day", "revenue", "n_orders", F.lit(True).alias("recomputed"))
    )
    passthrough = old_mv.join(aff, "day", "left_anti").select(
        "day", "revenue", "n_orders", F.lit(False).alias("recomputed")
    )
    return passthrough.unionByName(recomputed).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "revenue",
        "n_orders",
        "recomputed",
    )


# ---------------------------------------------------------------------------
# Schema evolution (r3 continuation): a table written over time with an
# EVOLVING schema (v1: doc_id+text; v2 adds lang + a quality column) must
# read back as one frame — `mergeSchema` unifies the footers and fills
# missing columns with NULL. The query writes both generations (derived
# deterministically from the docs table, disjoint halves), reads the
# directory pair with mergeSchema, and the twin models exactly what merge
# MUST produce: UNION ALL with NULL-padded columns. At 100 TB mergeSchema
# is a footer-sampling planning cost, not a data cost — but silent column
# drift is a correctness bug this query would catch.
# ---------------------------------------------------------------------------


@_q(
    "schema_evolution",
    # the v1-generation rows have NULL quality — a NULL in a BIGINT
    # column coerces the driver's pandas .df() column to float64 ("42.0"
    # vs Spark "42", the r5 type-path class); -1 sentinel keeps int64
    # (n_chars >= 0, no collision). NULL lang is safe: VARCHAR → object
    # dtype preserves None.
    "SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang, "
    "CAST(-1 AS BIGINT) AS quality FROM documents WHERE doc_id % 2 = 0 "
    "UNION ALL SELECT doc_id, text, lang, n_chars AS quality "
    "FROM documents WHERE doc_id % 2 = 1",
)
def schema_evolution_q(spark, sf_dir):
    import os

    d = _docs(spark, sf_dir)
    app = spark.sparkContext.applicationId
    root = f"/tmp/sneaky_schema_evo/{app}/{os.path.basename(sf_dir.rstrip('/'))}"
    v1 = d.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    v2 = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang", F.col("n_chars").alias("quality")
    )
    v1.write.mode("overwrite").parquet(f"{root}/gen=1")
    v2.write.mode("overwrite").parquet(f"{root}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/gen=1", f"{root}/gen=2"
    )
    # -1 sentinel for merge-filled NULLs, mirroring the oracle (SQL note)
    return merged.select(
        "doc_id",
        "text",
        "lang",
        F.coalesce("quality", F.lit(-1)).cast("long").alias("quality"),
    )


def _export(name: str):
    """Expose registry to __spark_entry__."""
    return QUERIES if name == "queries" else ORACLE_SQL


# ---------------------------------------------------------------------------
# r3 continuation: linkage comparators + post-processing.
# Address standardization (functions/addresses.py), graded date matching
# (functions/dates.py), grid-blocked geo distance join (operators/geo.py),
# Monge-Elkan hybrid similarity (functions/similarity.py), and mutual-best
# 1:1 match assignment (operators/assignment.py). Testdata carries no
# address/DOB/coordinate columns, so each query synthesizes its input
# deterministically from customer keys — IDENTICAL integer/date arithmetic
# on both engines — exactly like phone_normalize does.
# ---------------------------------------------------------------------------

_ADDR_DIRS = ["North", "S", "east", "", "west"]
_ADDR_NAMES = ["MAIN", "Oak", "Cedar", "lake shore", "Elm", "Pine"]
_ADDR_SUFFIXES = ["Street", "St.", "AVENUE", "Ave", "Road", "drive", "Boulevard"]


def _addr_raw_sql() -> str:
    dirs = ", ".join(f"'{d}'" for d in _ADDR_DIRS)
    names = ", ".join(f"'{n}'" for n in _ADDR_NAMES)
    sufs = ", ".join(f"'{s}'" for s in _ADDR_SUFFIXES)
    return (
        f"CAST(c_custkey AS VARCHAR) || ' ' || ([{dirs}])[c_custkey % 5 + 1] "
        f"|| ' ' || ([{names}])[c_custkey % 6 + 1] "
        f"|| ' ' || ([{sufs}])[c_custkey % 7 + 1] "
        "|| CASE WHEN c_custkey % 4 = 0 THEN ', Apt. ' || CAST(c_custkey % 30 AS VARCHAR) "
        "WHEN c_custkey % 4 = 1 THEN ' UNIT ' || CAST(c_custkey % 12 AS VARCHAR) "
        "ELSE '' END"
    )


def _addr_raw_col() -> F.Column:
    k = F.col("c_custkey")
    pick = lambda opts, n: F.element_at(  # noqa: E731
        F.array(*[F.lit(o) for o in opts]), (k % n + 1).cast("int")
    )
    unit = (
        F.when(k % 4 == 0, F.concat(F.lit(", Apt. "), (k % 30).cast("string")))
        .when(k % 4 == 1, F.concat(F.lit(" UNIT "), (k % 12).cast("string")))
        .otherwise(F.lit(""))
    )
    return F.concat(
        k.cast("string"),
        F.lit(" "),
        pick(_ADDR_DIRS, 5),
        F.lit(" "),
        pick(_ADDR_NAMES, 6),
        F.lit(" "),
        pick(_ADDR_SUFFIXES, 7),
        unit,
    )


@_q(
    "address_normalize",
    "SELECT c_custkey, "
    f"{__import__('sneaky_data_matcher_spark.functions.addresses', fromlist=['x']).normalize_address_sql('addr_raw')} AS addr_norm, "
    f"{__import__('sneaky_data_matcher_spark.functions.addresses', fromlist=['x']).address_unit_sql('addr_raw')} AS addr_unit "
    f"FROM (SELECT c_custkey, {_addr_raw_sql()} AS addr_raw FROM customer)",
)
def address_normalize_q(spark, sf_dir):
    from .functions import addresses as A

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    raw = _addr_raw_col()
    return cust.select(
        "c_custkey",
        A.normalize_address(raw).alias("addr_norm"),
        A.address_unit(raw).alias("addr_unit"),
    )


# DOB pair synthesis: source A date from the key; source B applies one of
# the classic corruption modes (identity / day-month swap when valid /
# off-by-one-day / wrong-year / wrong-month) chosen by key residue. The
# comparator grades agreement 3/2/1/0 (functions/dates.py).
_DOB_A_SQL = "DATE '1950-01-01' + CAST(c_custkey * 97 % 15000 AS INT)"
_DOB_B_SQL = (
    "CASE WHEN c_custkey % 6 IN (0, 1) THEN dob_a "
    "WHEN c_custkey % 6 = 2 THEN CASE WHEN day(dob_a) <= 12 "
    "  THEN make_date(year(dob_a), day(dob_a), month(dob_a)) ELSE dob_a END "
    "WHEN c_custkey % 6 = 3 THEN dob_a + 1 "
    "WHEN c_custkey % 6 = 4 THEN dob_a + 370 "
    "ELSE dob_a + 40 END"
)


@_q(
    "dob_match_features",
    # dob_a/dob_b as VARCHAR on both engines (pandas-DATE rendering
    # hazard; see orders_monthly note). match_level still compares the
    # underlying dates.
    "SELECT c_custkey, strftime(dob_a, '%Y-%m-%d') AS dob_a, "
    "strftime(dob_b, '%Y-%m-%d') AS dob_b, "
    f"{__import__('sneaky_data_matcher_spark.functions.dates', fromlist=['x']).date_match_sql('dob_a', 'dob_b')} AS match_level "
    f"FROM (SELECT c_custkey, dob_a, {_DOB_B_SQL} AS dob_b "
    f"FROM (SELECT c_custkey, {_DOB_A_SQL} AS dob_a FROM customer))",
)
def dob_match_features_q(spark, sf_dir):
    import datetime as _dt

    from .functions import dates as D

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    a = F.date_add(F.lit(_dt.date(1950, 1, 1)), (k * 97 % 15000).cast("int"))
    t = cust.select("c_custkey", a.alias("dob_a"))
    da = F.col("dob_a")
    swapped = F.when(
        F.dayofmonth(da) <= 12,
        F.make_date(F.year(da), F.dayofmonth(da), F.month(da)),
    ).otherwise(da)
    b = (
        F.when((k % 6).isin(0, 1), da)
        .when(k % 6 == 2, swapped)
        .when(k % 6 == 3, F.date_add(da, 1))
        .when(k % 6 == 4, F.date_add(da, 370))
        .otherwise(F.date_add(da, 40))
    )
    t = t.withColumn("dob_b", b)
    return t.select(
        "c_custkey",
        F.date_format("dob_a", "yyyy-MM-dd").alias("dob_a"),
        F.date_format("dob_b", "yyyy-MM-dd").alias("dob_b"),
        D.date_match_level(F.col("dob_a"), F.col("dob_b")).alias("match_level"),
    )


# Geo distance join over synthesized coordinates (|lat| <= 60, lon within
# (-170, 170) so the 3x3 stencil needs no antimeridian stitch). The DuckDB
# twin runs the SAME grid+stencil+haversine plan (operators/geo.py);
# equality vs the exhaustive O(n^2) haversine is asserted in
# tests/test_geo.py, so the hash check certifies the blocked plan.
_GEO_PTS_SQL = (
    "SELECT c_custkey AS id, "
    "CAST(c_custkey * 7919 % 120000 AS DOUBLE) / 1000.0 - 60.0 AS lat, "
    "CAST(c_custkey * 104729 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS lon "
    "FROM customer"
)


@_q(
    "geo_distance_pairs",
    f"WITH geo_pts AS ({_GEO_PTS_SQL}) "
    "SELECT id_a, id_b, round(dist_km, 3) AS dist_km FROM ("
    + __import__(
        "sneaky_data_matcher_spark.operators.geo", fromlist=["x"]
    ).grid_distance_join_sql("geo_pts", 200.0)
    + ")",
)
def geo_distance_pairs_q(spark, sf_dir):
    from .operators.geo import grid_distance_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    pts = cust.select(
        k.alias("id"),
        ((k * 7919 % 120000).cast("double") / 1000.0 - 60.0).alias("lat"),
        ((k * 104729 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    out = grid_distance_join(pts, 200.0)
    return out.select("id_a", "id_b", F.round("dist_km", 3).alias("dist_km"))


# Mutual-best 1:1 assignment over the ER scored pairs: each doc keeps at
# most one partner; a pair survives iff each side is the other's best
# (score desc, partner-id asc tie-break). Both engines rank the SAME
# rounded score so window ties are identical.
_ER_MBM_CTE = (
    _ER_SCORED_CTE
    + f", spairs AS MATERIALIZED (SELECT doc_id_a, doc_id_b, round({_ER_SCORE_SQL}, 6) AS score FROM er_scored), "
    "sym AS (SELECT doc_id_a AS u, doc_id_b AS v, score AS s FROM spairs "
    "  UNION ALL SELECT doc_id_b, doc_id_a, score FROM spairs), "
    "best AS (SELECT u, v, s FROM (SELECT u, v, s, "
    "  row_number() OVER (PARTITION BY u ORDER BY s DESC, v ASC) AS rn FROM sym) WHERE rn = 1)"
)


@_q(
    "er_one_to_one",
    f"WITH {_ER_MBM_CTE} "
    "SELECT a.u AS doc_id_a, a.v AS doc_id_b, a.s AS score "
    "FROM best a JOIN best b ON a.u = b.v AND a.v = b.u WHERE a.u < a.v",
)
def er_one_to_one_q(spark, sf_dir):
    from .operators.assignment import mutual_best_match

    s = _er_scored_frame(spark, sf_dir)
    score = F.round(
        _er_score(), 6
    )
    pairs = s.select("doc_id_a", "doc_id_b", score.alias("score"))
    return mutual_best_match(pairs)


# Monge-Elkan hybrid similarity on the ER candidate pairs: token-order
# tolerant AND per-token typo tolerant (mean best-JW partner, symmetrized).
# Spark runs the Arrow-batched DuckDB list-lambda kernel; the twin runs the
# same expression — bit-identical. The comparator is ~94x a flat jw
# (BENCH.md), so the certified set is a DETERMINISTIC 1-in-32 pair sample
# (exact int64 residue, same arithmetic both engines) — r4, VERDICT r3 #5:
# keeps the driver's per-query wall sub-minute at sf0.01 (was 151 s over
# all 39,492 pairs; the DuckDB twin alone is ~13 ms/pair) while still
# certifying ~1.2k pairs bit-for-bit. 1-in-32 here; the cheaper
# soft-TFIDF below uses a 1-in-8 sample of the same residue family
# (ADVICE r4 #5: the rates differ — this comment previously said both).
@_q(
    "monge_elkan_pairs",
    # NOTE: built on _ER_PAIRS_CTE, not _ER_SCORED_CTE — the MATERIALIZED
    # er_scored CTE would compute full-text levenshtein+jw for all 39k
    # pairs that this query never reads (measured: that unused
    # materialization, not the comparator, dominated the twin's wall).
    f"WITH {_ER_PAIRS_CTE}, "
    "me_texts AS (SELECT p.doc_id_a, p.doc_id_b, ca.doc_text AS ta, cb.doc_text AS tb "
    "  FROM er_pairs p JOIN canon ca ON p.doc_id_a = ca.doc_id "
    "  JOIN canon cb ON p.doc_id_b = cb.doc_id "
    "  WHERE (p.doc_id_a * 31 + p.doc_id_b) % 32 = 0) "
    "SELECT doc_id_a, doc_id_b, round("
    + __import__(
        "sneaky_data_matcher_spark.functions.similarity", fromlist=["x"]
    ).monge_elkan_sql("string_split(ta, ' ')", "string_split(tb, ' ')")
    + ", 6) AS me FROM me_texts",
)
def monge_elkan_pairs_q(spark, sf_dir):
    from .functions.similarity import monge_elkan

    canon, _, pairs = _er_frames(spark, sf_dir)
    pairs = pairs.where((F.col("doc_id_a") * 31 + F.col("doc_id_b")) % 32 == 0)
    a = canon.select(F.col("doc_id").alias("doc_id_a"), F.col("doc_text").alias("ta"))
    b = canon.select(F.col("doc_id").alias("doc_id_b"), F.col("doc_text").alias("tb"))
    t = pairs.join(a, "doc_id_a").join(b, "doc_id_b")
    return t.select(
        "doc_id_a",
        "doc_id_b",
        F.round(
            monge_elkan(F.split(F.col("ta"), " "), F.split(F.col("tb"), " ")), 6
        ).alias("me"),
    )


# Term-frequency-adjusted Fellegi-Sunter agreement weight on the
# "first canonical token" field (a name-like field): pairs that agree on
# a RARE first token earn a large positive adjustment, agreement on a
# corpus-common token is discounted — Splink-style u_v = p_v correction
# (operators/fellegi_sunter.py tf_adjusted_weights).
_FS_TF_PRELUDE = (
    _ER_PAIRS_CTE
    + ", firsttok AS MATERIALIZED (SELECT doc_id, string_split(doc_text, ' ')[1] AS val "
    "FROM canon WHERE doc_text <> ''), "
    "agree AS (SELECT p.doc_id_a, p.doc_id_b, fa.val FROM er_pairs p "
    "JOIN firsttok fa ON p.doc_id_a = fa.doc_id "
    "JOIN firsttok fb ON p.doc_id_b = fb.doc_id WHERE fa.val = fb.val)"
)


@_q(
    "fs_tf_adjusted",
    __import__(
        "sneaky_data_matcher_spark.operators.fellegi_sunter", fromlist=["x"]
    ).tf_adjusted_weights_sql("agree", "firsttok", prelude_ctes=_FS_TF_PRELUDE),
)
def fs_tf_adjusted_q(spark, sf_dir):
    from .operators.fellegi_sunter import tf_adjusted_weights

    canon, _, pairs = _er_frames(spark, sf_dir)
    first = canon.select(
        "doc_id", F.split("doc_text", " ").getItem(0).alias("val")
    )
    fa = first.select(F.col("doc_id").alias("doc_id_a"), F.col("val").alias("va"))
    fb = first.select(F.col("doc_id").alias("doc_id_b"), F.col("val").alias("vb"))
    agree = (
        pairs.join(fa, "doc_id_a")
        .join(fb, "doc_id_b")
        .where(F.col("va") == F.col("vb"))
        .select("doc_id_a", "doc_id_b", F.col("va").alias("val"))
    )
    return tf_adjusted_weights(agree, first)


# Streaming heavy hitters: a REAL streaming run (update-mode stateful
# aggregation — per-token state store, incremental per-batch fold) whose
# final per-token maxima equal the batch census; top-25 by (count desc,
# token asc). The memory sink accumulates one row per touched key per
# batch; counts are monotone, so max(n) per token is the final state.
@_q(
    "stream_heavy_hitters",
    "WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), "
    "'\\s+'), x -> x <> '')) AS token FROM documents), "
    "census AS (SELECT token, count(*) AS n FROM toks GROUP BY token) "
    "SELECT token, n FROM census ORDER BY n DESC, token ASC LIMIT 25",
)
def stream_heavy_hitters_q(spark, sf_dir):
    from .streaming.incremental import run_stream_to_memory, streaming_token_counts

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    out = run_stream_to_memory(
        spark,
        streaming_token_counts(stream),
        "stream_heavy_hitters_sink",
        output_mode="update",
    )
    final = out.groupBy("token").agg(F.max("n").alias("n"))
    return final.orderBy(F.col("n").desc(), F.col("token").asc()).limit(25)


# ---------------------------------------------------------------------------
# Structural cluster repair (r3): match-edge triangle support
# (embeddedness). A match edge with NO common neighbor is transitively
# uncorroborated; dropping zero-support edges below a strict score bar
# splits chain-merged clusters (the structural complement of the
# threshold-based er_refined_clusters). Spark runs the O(m^1.5)
# degree-oriented wedge enumeration (operators/graphstats.py); the twin
# counts common neighbors with a correlated join — different algorithm,
# same answer.
# ---------------------------------------------------------------------------

_ER_MEDGES_CTE = (
    _ER_SCORED_CTE
    + f", medges AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v, "
    f"round({_ER_SCORE_SQL}, 6) AS score FROM er_scored WHERE {_ER_MATCH_COND}), "
    "msym AS MATERIALIZED (SELECT u, v FROM medges UNION ALL SELECT v, u FROM medges), "
    "esup AS MATERIALIZED (SELECT e.u, e.v, e.score, "
    "  (SELECT count(*) FROM msym s1 JOIN msym s2 ON s1.v = s2.v "
    "   WHERE s1.u = e.u AND s2.u = e.v) AS support FROM medges e)"
)

_REPAIR_STRICT = 0.85


def _er_match_edges_scored(spark, sf_dir):
    s = _er_scored_frame(spark, sf_dir)
    score = F.round(
        _er_score(), 6
    )
    return (
        s.withColumn("score", score)
        .where(
            _er_score()
            >= 0.8
        )
        .select(F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v"), "score")
    )


@_q(
    "er_edge_support",
    f"WITH {_ER_MEDGES_CTE} SELECT u AS doc_id_a, v AS doc_id_b, score, "
    "CAST(support AS BIGINT) AS support FROM esup",
)
def er_edge_support_q(spark, sf_dir):
    from .operators.graphstats import edge_support

    edges = _er_match_edges_scored(spark, sf_dir)
    sup = edge_support(edges, "u", "v")
    return edges.join(sup, ["u", "v"]).select(
        F.col("u").alias("doc_id_a"),
        F.col("v").alias("doc_id_b"),
        "score",
        "support",
    )


@_q(
    "er_repaired_clusters",
    f"WITH RECURSIVE {_ER_MEDGES_CTE}, "
    f"kept AS MATERIALIZED (SELECT u, v FROM esup WHERE support > 0 OR score >= {_REPAIR_STRICT!r}), "
    "ksym AS (SELECT u, v FROM kept UNION SELECT v, u FROM kept), "
    "kreach(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM kreach r JOIN ksym s ON r.b = s.u) "
    "SELECT a AS doc_id, min(b) AS cluster_id FROM kreach GROUP BY a",
)
def er_repaired_clusters_q(spark, sf_dir):
    from .operators.clustering import cluster_nodes
    from .operators.graphstats import edge_support

    edges = _er_match_edges_scored(spark, sf_dir)
    sup = edge_support(edges, "u", "v")
    kept = (
        edges.join(sup, ["u", "v"])
        .where((F.col("support") > 0) | (F.col("score") >= _REPAIR_STRICT))
        .select(F.col("u").alias("doc_id_a"), F.col("v").alias("doc_id_b"))
    )
    canon, _, _ = _er_frames(spark, sf_dir)
    return cluster_nodes(canon, kept)


# Soft TF-IDF (Cohen-Ravikumar-Fienberg 2003) on the ER candidate pairs:
# idf-weighted cosine with Jaro-Winkler soft token matching (>0.9).
# Certified set is a deterministic 1-in-8 pair sample — same residue
# family as monge_elkan_pairs but a DIFFERENT rate (monge-elkan samples
# 1-in-32; this kernel is ~4x cheaper — ADVICE r4 #5). r4, VERDICT r3
# #5: driver wall at sf0.01 was 54 s over all pairs. idf weights still
# come from the FULL corpus (st_sets reads canon), so sampling pairs
# changes nothing about the vectors.
@_q(
    "soft_tfidf_pairs",
    f"WITH {_ER_PAIRS_CTE}, "
    "er_pairs_s AS (SELECT * FROM er_pairs WHERE (doc_id_a * 31 + doc_id_b) % 8 = 0), "
    + __import__(
        "sneaky_data_matcher_spark.operators.setsim", fromlist=["x"]
    ).soft_tfidf_sql_ctes("er_pairs_s", "canon")
    + " SELECT doc_id_a, doc_id_b, soft_tfidf FROM soft_out",
)
def soft_tfidf_pairs_q(spark, sf_dir):
    from .operators.setsim import soft_tfidf_pairs

    canon, _, pairs = _er_frames(spark, sf_dir)
    pairs = pairs.where((F.col("doc_id_a") * 31 + F.col("doc_id_b")) % 8 == 0)
    return soft_tfidf_pairs(pairs, canon, jw_threshold=0.9)


# Group linkage (On et al., ICDE 2007): treat even-id docs as source A
# and odd-id docs as source B, grouped by a deterministic residue
# (demo fixture — real callers pass household/author-set ids). Member
# similarity = tok_jaccard from the ER scored pairs (rational, rounded 6
# -> engine-exact); group similarity = 1:1-matched-member Jaccard.
_GL_CTE = (
    _ER_SCORED_CTE
    + ", gl_pairs AS MATERIALIZED ("
    "SELECT CASE WHEN doc_id_a % 2 = 0 THEN doc_id_a ELSE doc_id_b END AS id_a, "
    "       CASE WHEN doc_id_a % 2 = 0 THEN doc_id_b ELSE doc_id_a END AS id_b, "
    "       round(tok_jaccard, 6) AS sim FROM er_scored "
    "WHERE (doc_id_a % 2) + (doc_id_b % 2) = 1), "
    "gl_keyed AS (SELECT id_a % 37 AS group_a, id_b % 37 AS group_b, id_a, id_b, sim FROM gl_pairs), "
    "gl_sza AS (SELECT doc_id % 37 AS group_a, count(*) AS na FROM canon "
    "  WHERE doc_text <> '' AND doc_id % 2 = 0 GROUP BY 1), "
    "gl_szb AS (SELECT doc_id % 37 AS group_b, count(*) AS nb FROM canon "
    "  WHERE doc_text <> '' AND doc_id % 2 = 1 GROUP BY 1), "
    + __import__(
        "sneaky_data_matcher_spark.operators.assignment", fromlist=["x"]
    ).group_linkage_sql_ctes("gl_keyed", "gl_sza", "gl_szb", 0.2)
)


@_q(
    "group_linkage",
    f"WITH {_GL_CTE} SELECT group_a, group_b, n_matched, "
    "round(group_sim, 6) AS group_sim, round(avg_sim, 6) AS avg_sim FROM gl_out",
)
def group_linkage_q(spark, sf_dir):
    from .operators.assignment import group_linkage

    canon, _, _ = _er_frames(spark, sf_dir)
    s = _er_scored_frame(spark, sf_dir)
    cross = s.where((F.col("doc_id_a") % 2 + F.col("doc_id_b") % 2) == 1)
    even_first = F.col("doc_id_a") % 2 == 0
    mp = cross.select(
        F.when(even_first, F.col("doc_id_a")).otherwise(F.col("doc_id_b")).alias("id_a"),
        F.when(even_first, F.col("doc_id_b")).otherwise(F.col("doc_id_a")).alias("id_b"),
        F.round("tok_jaccard", 6).alias("sim"),
    ).select(
        (F.col("id_a") % 37).alias("group_a"),
        (F.col("id_b") % 37).alias("group_b"),
        "id_a",
        "id_b",
        "sim",
    )
    sza = (
        canon.where(F.col("doc_id") % 2 == 0)
        .groupBy((F.col("doc_id") % 37).alias("group_a"))
        .agg(F.count("*").alias("na"))
    )
    szb = (
        canon.where(F.col("doc_id") % 2 == 1)
        .groupBy((F.col("doc_id") % 37).alias("group_b"))
        .agg(F.count("*").alias("nb"))
    )
    out = group_linkage(mp, sza, szb, min_sim=0.2)
    return out.select(
        "group_a",
        "group_b",
        "n_matched",
        F.round("group_sim", 6).alias("group_sim"),
        F.round("avg_sim", 6).alias("avg_sim"),
    )


# k-anonymity audit (operators/profiling.py): quasi-identifiers =
# (nation, market segment, account-balance band). Classes under k=4 are
# the re-identifiable ones a release gate must suppress or generalize.
_KANON_BAND_SQL = "CAST(floor(c_acctbal / 2000.0) AS BIGINT)"


@_q(
    "k_anonymity_report",
    f"SELECT c_nationkey, c_mktsegment, {_KANON_BAND_SQL} AS bal_band, "
    "count(*) AS class_size FROM customer "
    "GROUP BY c_nationkey, c_mktsegment, bal_band HAVING count(*) < 4",
)
def k_anonymity_report_q(spark, sf_dir):
    from .operators.profiling import k_anonymity_report

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "bal_band"], k=4
    )


# Person-name standardization (functions/names.py): both layouts,
# nicknames, generational suffixes — synthesized deterministically from
# customer keys like the other comparator fixtures.
_NM_FIRSTS = ["Bill", "KATE", "jim", "Alexandra", "LIZ", "Tom", "Sue", "NED"]
_NM_LASTS = ["Smith", "van der Berg", "JOHNSON", "o neil", "Garcia", "Lee", "BROWN"]
_NM_MIDS = ["", "A.", "B", "C. D."]
_NM_SFX = ["", "Jr.", "III", "", "SR"]


def _name_raw_sql() -> str:
    f = "([" + ", ".join(f"'{x}'" for x in _NM_FIRSTS) + "])[c_custkey % 8 + 1]"
    l = "([" + ", ".join(f"'{x}'" for x in _NM_LASTS) + "])[c_custkey % 7 + 1]"
    m = "([" + ", ".join(f"'{x}'" for x in _NM_MIDS) + "])[c_custkey % 4 + 1]"
    s = "([" + ", ".join(f"'{x}'" for x in _NM_SFX) + "])[c_custkey % 5 + 1]"
    mid = f"CASE WHEN {m} <> '' THEN ' ' || {m} ELSE '' END"
    sfx = f"CASE WHEN {s} <> '' THEN ' ' || {s} ELSE '' END"
    return (
        f"CASE WHEN c_custkey % 3 = 0 THEN {l} || {sfx} || ', ' || {f} || {mid} "
        f"ELSE {f} || {mid} || ' ' || {l} || {sfx} END"
    )


def _name_raw_col() -> F.Column:
    k = F.col("c_custkey")
    pick = lambda opts, n: F.element_at(  # noqa: E731
        F.array(*[F.lit(o) for o in opts]), (k % n + 1).cast("int")
    )
    f, l = pick(_NM_FIRSTS, 8), pick(_NM_LASTS, 7)
    m, s = pick(_NM_MIDS, 4), pick(_NM_SFX, 5)
    mid = F.when(m != "", F.concat(F.lit(" "), m)).otherwise(F.lit(""))
    sfx = F.when(s != "", F.concat(F.lit(" "), s)).otherwise(F.lit(""))
    return F.when(
        k % 3 == 0, F.concat(l, sfx, F.lit(", "), f, mid)
    ).otherwise(F.concat(f, mid, F.lit(" "), l, sfx))


@_q(
    "parse_names",
    "SELECT c_custkey, p.first AS first_name, p.middle AS middle_name, "
    "p.last AS last_name, p.suffix AS name_suffix, "
    + __import__(
        "sneaky_data_matcher_spark.functions.names", fromlist=["x"]
    ).canonical_name_sql("name_raw")
    + " AS canon_name FROM (SELECT c_custkey, name_raw, "
    + __import__(
        "sneaky_data_matcher_spark.functions.names", fromlist=["x"]
    ).parse_person_name_sql("name_raw")
    + f" AS p FROM (SELECT c_custkey, {_name_raw_sql()} AS name_raw FROM customer))",
)
def parse_names_q(spark, sf_dir):
    from .functions import names as N

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    t = cust.select("c_custkey", _name_raw_col().alias("name_raw"))
    p = N.parse_person_name(F.col("name_raw"))
    return t.select(
        "c_custkey",
        p.getField("first").alias("first_name"),
        p.getField("middle").alias("middle_name"),
        p.getField("last").alias("last_name"),
        p.getField("suffix").alias("name_suffix"),
        N.canonical_name(F.col("name_raw")).alias("canon_name"),
    )


# Width folding: construct fullwidth-polluted text deterministically from
# documents (translate ASCII -> fullwidth on even ids, the exact inverse
# domain of the fold), then fold back; round trip proven by the twin.
@_q(
    "width_fold",
    "SELECT doc_id, "
    + __import__(
        "sneaky_data_matcher_spark.functions.canonicalize", fromlist=["x"]
    ).fold_width_sql(
        "CASE WHEN doc_id % 2 = 0 THEN translate(text, "
        "'" + "".join(chr(0x21 + i) for i in range(0x5E)).replace("'", "''") + "', "
        "'" + "".join(chr(0xFF01 + i) for i in range(0x5E)).replace("'", "''") + "') "
        "ELSE text END"
    )
    + " AS folded, "
    + __import__(
        "sneaky_data_matcher_spark.functions.canonicalize", fromlist=["x"]
    ).fold_width_sql(
        "CASE WHEN doc_id % 2 = 0 THEN translate(text, "
        "'" + "".join(chr(0x21 + i) for i in range(0x5E)).replace("'", "''") + "', "
        "'" + "".join(chr(0xFF01 + i) for i in range(0x5E)).replace("'", "''") + "') "
        "ELSE text END"
    )
    + " = text AS roundtrip FROM documents",
)
def width_fold_q(spark, sf_dir):
    from .functions.canonicalize import WIDTH_DST, WIDTH_SRC, fold_width

    d = _docs(spark, sf_dir)
    # widen: ASCII -> fullwidth (inverse mapping, minus the space pair)
    widened = F.when(
        F.col("doc_id") % 2 == 0,
        F.translate(F.col("text"), WIDTH_DST[:-1], WIDTH_SRC[:-1]),
    ).otherwise(F.col("text"))
    folded = fold_width(widened)
    return d.select(
        "doc_id", folded.alias("folded"), (folded == F.col("text")).alias("roundtrip")
    )


# Numeric comparator levels over dual-source amounts (same fixture style
# as dob_match_features: residue-chosen corruption modes).
_AMT_B_SQL = (
    "CASE WHEN c_custkey % 5 IN (0, 1) THEN amt_a "
    "WHEN c_custkey % 5 = 2 THEN amt_a * 1.005 "
    "WHEN c_custkey % 5 = 3 THEN amt_a * 1.05 "
    "ELSE amt_a + 1000.0 END"
)


@_q(
    "amount_match_features",
    "SELECT c_custkey, amt_a, amt_b, "
    + __import__(
        "sneaky_data_matcher_spark.functions.comparators", fromlist=["x"]
    ).numeric_match_sql("amt_a", "amt_b")
    + " AS match_level FROM (SELECT c_custkey, amt_a, "
    + _AMT_B_SQL
    + " AS amt_b FROM (SELECT c_custkey, c_acctbal AS amt_a FROM customer))",
)
def amount_match_features_q(spark, sf_dir):
    from .functions.comparators import numeric_match_level

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    t = cust.select("c_custkey", F.col("c_acctbal").alias("amt_a"))
    a = F.col("amt_a")
    b = (
        F.when((k % 5).isin(0, 1), a)
        .when(k % 5 == 2, a * 1.005)
        .when(k % 5 == 3, a * 1.05)
        .otherwise(a + 1000.0)
    )
    t = t.withColumn("amt_b", b)
    return t.select(
        "c_custkey",
        "amt_a",
        "amt_b",
        numeric_match_level(F.col("amt_a"), F.col("amt_b")).alias("match_level"),
    )


# ---------------------------------------------------------------------------
# Flagship comparator composition (r3 continuation): end-to-end TWO-SOURCE
# person linkage over synthesized person records — name (dual layout +
# nicknames), DOB (graded corruption), address (spelling-variant raw,
# same canonical), amount (relative-error grades). Blocking =
# soundex(surname) | birth year; scoring = fixed-weight sum of the field
# comparators; decision = threshold + mutual-best 1:1 assignment.
# Exercises functions/names+dates+addresses+comparators+phonetic and
# operators/assignment TOGETHER, the way a real deployment would.
# ---------------------------------------------------------------------------

_PL_NAME_B_SQL = (
    # source B: the OTHER layout than A (k%3=0 was comma in A), middle
    # dropped — same person, different formatting
    "CASE WHEN c_custkey % 3 = 0 THEN "
    "([" + ", ".join(f"'{x}'" for x in _NM_FIRSTS) + "])[c_custkey % 8 + 1]"
    " || ' ' || ([" + ", ".join(f"'{x}'" for x in _NM_LASTS) + "])[c_custkey % 7 + 1] "
    "ELSE ([" + ", ".join(f"'{x}'" for x in _NM_LASTS) + "])[c_custkey % 7 + 1]"
    " || ', ' || ([" + ", ".join(f"'{x}'" for x in _NM_FIRSTS) + "])[c_custkey % 8 + 1] END"
)

# source B address: swap the suffix spelling within its canonical class
# (Street<->St., AVENUE<->Ave), drop the unit part
_ADDR_B_IDX = (
    "CASE c_custkey % 7 WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 4 "
    "WHEN 3 THEN 3 ELSE c_custkey % 7 + 1 END"
)


def _pl_addr_b_sql() -> str:
    dirs = ", ".join(f"'{d}'" for d in _ADDR_DIRS)
    names = ", ".join(f"'{n}'" for n in _ADDR_NAMES)
    sufs = ", ".join(f"'{s}'" for s in _ADDR_SUFFIXES)
    return (
        f"CAST(c_custkey AS VARCHAR) || ' ' || ([{dirs}])[c_custkey % 5 + 1] "
        f"|| ' ' || ([{names}])[c_custkey % 6 + 1] "
        f"|| ' ' || ([{sufs}])[{_ADDR_B_IDX}]"
    )


def _pl_addr_b_col() -> F.Column:
    k = F.col("c_custkey")
    pick = lambda opts, idx: F.element_at(  # noqa: E731
        F.array(*[F.lit(o) for o in opts]), idx
    )
    idx_b = (
        F.when(k % 7 == 0, F.lit(2))
        .when(k % 7 == 1, F.lit(1))
        .when(k % 7 == 2, F.lit(4))
        .when(k % 7 == 3, F.lit(3))
        .otherwise((k % 7 + 1).cast("int"))
    ).cast("int")
    return F.concat(
        k.cast("string"),
        F.lit(" "),
        pick(_ADDR_DIRS, (k % 5 + 1).cast("int")),
        F.lit(" "),
        pick(_ADDR_NAMES, (k % 6 + 1).cast("int")),
        F.lit(" "),
        pick(_ADDR_SUFFIXES, idx_b),
    )


def _person_linkage_sql() -> str:
    from .functions import addresses as A
    from .functions import comparators as CMP
    from .functions import dates as D
    from .functions import names as N
    from .functions.phonetic import soundex_sql

    parse_a = N.parse_person_name_sql("name_a")
    parse_b = N.parse_person_name_sql("name_b")
    return (
        # Deterministic 4-in-7 record sample (c_custkey % 7 < 4, identical
        # on the Spark side — VERDICT r4 #3 residue-sampling pattern): the
        # unsampled twin cost ~75 s at sf0.01 (jw over every soundex|year
        # candidate), a driver-sample timeout risk. mod 7 is coprime to
        # the fixture's %3/%5/%6 corruption branches, so every corruption
        # class survives the sample.
        "WITH pl_src AS (SELECT c_custkey AS rid, "
        f"{_name_raw_sql()} AS name_a, {_PL_NAME_B_SQL} AS name_b, "
        f"{_DOB_A_SQL} AS dob_a, "
        f"{_addr_raw_sql()} AS addr_a, {_pl_addr_b_sql()} AS addr_b, "
        "c_acctbal AS amt_a, c_custkey FROM customer WHERE c_custkey % 7 < 4), "
        f"pl_src2 AS (SELECT *, {_DOB_B_SQL} AS dob_b, {_AMT_B_SQL} AS amt_b FROM pl_src), "
        f"pl_a AS (SELECT rid AS id_a, {N.canonical_name_sql('name_a')} AS cn_a, "
        f"  ({parse_a}).last AS last_a, dob_a, "
        f"  {A.normalize_address_sql('addr_a')} AS an_a, amt_a FROM pl_src2), "
        f"pl_b AS (SELECT rid AS id_b, {N.canonical_name_sql('name_b')} AS cn_b, "
        f"  ({parse_b}).last AS last_b, dob_b, "
        f"  {A.normalize_address_sql('addr_b')} AS an_b, amt_b FROM pl_src2), "
        f"pl_ka AS (SELECT *, {soundex_sql('last_a')} || '|' || CAST(year(dob_a) AS VARCHAR) AS bk FROM pl_a), "
        f"pl_kb AS (SELECT *, {soundex_sql('last_b')} || '|' || CAST(year(dob_b) AS VARCHAR) AS bk FROM pl_b), "
        "pl_cand AS (SELECT * FROM pl_ka JOIN pl_kb USING (bk)), "
        "pl_scored AS (SELECT id_a, id_b, "
        "  round(4.0 * round(jaro_winkler_similarity(cn_a, cn_b), 6) "
        f"    + 1.0 * ({D.date_match_sql('dob_a', 'dob_b')}) "
        "    + 2.0 * (CASE WHEN an_a = an_b THEN 1 ELSE 0 END) "
        f"    + 0.5 * ({CMP.numeric_match_sql('amt_a', 'amt_b')}), 6) AS score "
        "  FROM pl_cand), "
        "pl_match AS (SELECT * FROM pl_scored WHERE score >= 7.0), "
        "pl_rk AS (SELECT *, "
        "  row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS ra, "
        "  row_number() OVER (PARTITION BY id_b ORDER BY score DESC, id_a ASC) AS rb "
        "  FROM pl_match) "
        "SELECT id_a, id_b, score, id_a = id_b AS is_true "
        "FROM pl_rk WHERE ra = 1 AND rb = 1"
    )


@_q("person_linkage_e2e", None)
def person_linkage_e2e_q(spark, sf_dir):
    import datetime as _dt

    from pyspark.sql import Window as W

    from .functions import addresses as A
    from .functions import comparators as CMP
    from .functions import dates as D
    from .functions import names as N
    from .functions.phonetic import soundex_col
    from .functions.similarity import jaro_winkler

    # same deterministic 4-in-7 sample as the oracle (_person_linkage_sql
    # sampling note)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_custkey") % 7 < 4
    )
    k = F.col("c_custkey")
    dob_a = F.date_add(F.lit(_dt.date(1950, 1, 1)), (k * 97 % 15000).cast("int"))
    src = cust.select(
        k.alias("rid"),
        _name_raw_col().alias("name_a"),
        F.when(
            k % 3 == 0,
            F.concat(
                F.element_at(
                    F.array(*[F.lit(x) for x in _NM_FIRSTS]), (k % 8 + 1).cast("int")
                ),
                F.lit(" "),
                F.element_at(
                    F.array(*[F.lit(x) for x in _NM_LASTS]), (k % 7 + 1).cast("int")
                ),
            ),
        )
        .otherwise(
            F.concat(
                F.element_at(
                    F.array(*[F.lit(x) for x in _NM_LASTS]), (k % 7 + 1).cast("int")
                ),
                F.lit(", "),
                F.element_at(
                    F.array(*[F.lit(x) for x in _NM_FIRSTS]), (k % 8 + 1).cast("int")
                ),
            )
        )
        .alias("name_b"),
        dob_a.alias("dob_a"),
        _addr_raw_col().alias("addr_a"),
        _pl_addr_b_col().alias("addr_b"),
        F.col("c_acctbal").alias("amt_a"),
        "c_custkey",
    )
    da = F.col("dob_a")
    swapped = F.when(
        F.dayofmonth(da) <= 12,
        F.make_date(F.year(da), F.dayofmonth(da), F.month(da)),
    ).otherwise(da)
    dob_b = (
        F.when((k % 6).isin(0, 1), da)
        .when(k % 6 == 2, swapped)
        .when(k % 6 == 3, F.date_add(da, 1))
        .when(k % 6 == 4, F.date_add(da, 370))
        .otherwise(F.date_add(da, 40))
    )
    amt_a = F.col("amt_a")
    amt_b = (
        F.when((k % 5).isin(0, 1), amt_a)
        .when(k % 5 == 2, amt_a * 1.005)
        .when(k % 5 == 3, amt_a * 1.05)
        .otherwise(amt_a + 1000.0)
    )
    src = src.withColumn("dob_b", dob_b).withColumn("amt_b", amt_b)

    # Stage the name parse ONCE per side (NOTES r4 "expression-tree
    # blowups"): canonical_name + parse(...).getField('last') in a single
    # select inlines parse_person_name's tree twice per side and blew the
    # build to ~36 s of py4j construction + Catalyst planning at sf0.01.
    # Same staging pattern as names.attach_name_match_level.
    def _side(tag: str) -> DataFrame:
        staged = src.withColumn(
            "__p", N.parse_person_name(F.col(f"name_{tag}"))
        ).withColumn("__f", N._nickname_case(F.col("__p.first")))
        return staged.select(
            F.col("rid").alias(f"id_{tag}"),
            N._canonical_from_parts(F.col("__f"), F.col("__p.last")).alias(
                f"cn_{tag}"
            ),
            F.col("__p.last").alias(f"last_{tag}"),
            f"dob_{tag}",
            A.normalize_address(F.col(f"addr_{tag}")).alias(f"an_{tag}"),
            f"amt_{tag}",
        ).withColumn(
            "bk",
            F.concat(
                soundex_col(F.col(f"last_{tag}")),
                F.lit("|"),
                F.year(f"dob_{tag}").cast("string"),
            ),
        )

    pa = _side("a")
    pb = _side("b")
    cand = pa.join(pb, "bk")
    score = F.round(
        4.0 * F.round(jaro_winkler(F.col("cn_a"), F.col("cn_b")), 6)
        + 1.0 * D.date_match_level(F.col("dob_a"), F.col("dob_b"))
        + 2.0
        * F.when(F.col("an_a") == F.col("an_b"), F.lit(1)).otherwise(F.lit(0))
        + 0.5 * CMP.numeric_match_level(F.col("amt_a"), F.col("amt_b")),
        6,
    )
    matched = cand.select("id_a", "id_b", score.alias("score")).where(
        F.col("score") >= 7.0
    )
    wa = W.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b").asc())
    wb = W.partitionBy("id_b").orderBy(F.col("score").desc(), F.col("id_a").asc())
    return (
        matched.withColumn("ra", F.row_number().over(wa))
        .withColumn("rb", F.row_number().over(wb))
        .where((F.col("ra") == 1) & (F.col("rb") == 1))
        .select(
            "id_a", "id_b", "score", (F.col("id_a") == F.col("id_b")).alias("is_true")
        )
    )


ORACLE_SQL["person_linkage_e2e"] = _person_linkage_sql()


# Blocking-pass contribution report: for each blocking pass, how many
# candidate pairs it generates and how many of the FINAL match pairs it
# (also) covers — the pass-level efficiency/recall table that decides
# which passes earn their pair mass at 100 TB (drop a pass whose matches
# are all covered elsewhere; investigate one generating 10^9 pairs for 3
# matches).
_ER_PASS_PAIRS_CTE = (
    _ER_SCORED_CTE
    + ", pass_pairs AS MATERIALIZED (SELECT DISTINCT a.pass, "
    "  a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "FROM er_keys a JOIN er_keys b ON a.pass = b.pass AND a.block_key = b.block_key "
    "WHERE a.doc_id < b.doc_id), "
    f"m_edges AS MATERIALIZED (SELECT doc_id_a, doc_id_b FROM er_scored WHERE {_ER_MATCH_COND})"
)


@_q(
    "blocking_pass_report",
    f"WITH {_ER_PASS_PAIRS_CTE} "
    "SELECT p.pass, count(*) AS n_pairs, "
    "count(m.doc_id_a) AS n_matches_covered, "
    "round(CAST(count(m.doc_id_a) AS DOUBLE) / count(*), 6) AS efficiency "
    "FROM pass_pairs p LEFT JOIN m_edges m "
    "USING (doc_id_a, doc_id_b) GROUP BY p.pass",
)
def blocking_pass_report_q(spark, sf_dir):
    _, keys, _ = _er_frames(spark, sf_dir)
    a = keys.select("pass", "block_key", F.col("doc_id").alias("doc_id_a"))
    b = keys.select("pass", "block_key", F.col("doc_id").alias("doc_id_b"))
    pass_pairs = (
        a.join(b, ["pass", "block_key"])
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("pass", "doc_id_a", "doc_id_b")
        .distinct()
    )
    m = er_matches(spark, sf_dir).withColumn("is_m", F.lit(1))
    j = pass_pairs.join(m, ["doc_id_a", "doc_id_b"], "left")
    return j.groupBy("pass").agg(
        F.count("*").alias("n_pairs"),
        F.count("is_m").alias("n_matches_covered"),
        F.round(F.count("is_m").cast("double") / F.count("*"), 6).alias(
            "efficiency"
        ),
    )


# LPA communities on the ER match graph: the cluster-SPLITTING view
# (a label must win a local majority, so thin bridges don't merge dense
# groups) next to er_clusters' transitive closure.
@_q(
    "lpa_communities",
    f"WITH {_ER_MEDGES_CTE}, "
    "lpa_nodes AS (SELECT doc_id FROM canon WHERE doc_text <> ''), "
    + __import__(
        "sneaky_data_matcher_spark.operators.clustering", fromlist=["x"]
    ).lpa_sql_ctes("msym", "lpa_nodes", rounds=3)
    + " SELECT node AS doc_id, label AS community FROM lpa_final",
)
def lpa_communities_q(spark, sf_dir):
    from .operators.clustering import lpa_communities

    canon, _, _ = _er_frames(spark, sf_dir)
    edges = _er_match_edges_scored(spark, sf_dir).select(
        F.col("u").alias("doc_id_a"), F.col("v").alias("doc_id_b")
    )
    return lpa_communities(edges, canon.select("doc_id"), rounds=3)


# Graded name comparator over the dual-source person fixture: canonical /
# surname+initial / surname / first-only / none.
@_q(
    "name_match_features",
    "SELECT c_custkey, name_a, name_b, "
    + __import__(
        "sneaky_data_matcher_spark.functions.names", fromlist=["x"]
    ).name_match_sql("name_a", "name_b")
    + " AS match_level FROM (SELECT c_custkey, "
    + _name_raw_sql()
    + " AS name_a, CASE WHEN c_custkey % 11 = 0 THEN "
    # corrupted B: first initial only for every 11th record
    "substr(([" + ", ".join(f"'{x}'" for x in _NM_FIRSTS) + "])[c_custkey % 8 + 1], 1, 1)"
    " || ' ' || ([" + ", ".join(f"'{x}'" for x in _NM_LASTS) + "])[c_custkey % 7 + 1] "
    "ELSE " + _PL_NAME_B_SQL + " END AS name_b FROM customer)",
)
def name_match_features_q(spark, sf_dir):
    from .functions import names as N

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    firsts = F.element_at(
        F.array(*[F.lit(x) for x in _NM_FIRSTS]), (k % 8 + 1).cast("int")
    )
    lasts = F.element_at(
        F.array(*[F.lit(x) for x in _NM_LASTS]), (k % 7 + 1).cast("int")
    )
    name_b_norm = F.when(
        k % 3 == 0, F.concat(firsts, F.lit(" "), lasts)
    ).otherwise(F.concat(lasts, F.lit(", "), firsts))
    name_b = F.when(
        k % 11 == 0,
        F.concat(F.substring(firsts, 1, 1), F.lit(" "), lasts),
    ).otherwise(name_b_norm)
    t = cust.select(
        "c_custkey", _name_raw_col().alias("name_a"), name_b.alias("name_b")
    )
    # staged form: the one-shot Column inlines the parse tree ~4x/side and
    # costs ~70 s of build+plan at this size (names.attach_name_match_level)
    return N.attach_name_match_level(t, "name_a", "name_b", "match_level")


# Truth discovery (operators/fusion.py): 4 sources claim a segment value
# per entity with source-specific error patterns (source 0 always right,
# 1/2/3 increasingly wrong); two synchronous trust iterations, then
# value election. All-integer nano-unit math -> engine-exact.
_TD_CLAIMS_SQL = (
    "SELECT (c_custkey // 200) % 4 AS source_id, c_custkey % 200 AS entity_id, "
    "'segment' AS attr, "
    "CASE WHEN (c_custkey // 200) % 4 = 0 THEN 'V' || CAST(c_custkey % 200 % 7 AS VARCHAR) "
    "WHEN (c_custkey // 200) % 4 = 1 AND c_custkey % 200 % 5 = 0 THEN 'W1' "
    "WHEN (c_custkey // 200) % 4 = 2 AND c_custkey % 200 % 3 = 0 THEN 'W2' "
    "WHEN (c_custkey // 200) % 4 = 3 AND c_custkey % 200 % 2 = 0 THEN 'W3' "
    "ELSE 'V' || CAST(c_custkey % 200 % 7 AS VARCHAR) END AS value "
    "FROM customer"
)


def _td_claims_frame(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    e = k % 200
    s = F.expr("(c_custkey DIV 200) % 4")
    true_v = F.concat(F.lit("V"), (e % 7).cast("string"))
    val = (
        F.when(s == 0, true_v)
        .when((s == 1) & (e % 5 == 0), F.lit("W1"))
        .when((s == 2) & (e % 3 == 0), F.lit("W2"))
        .when((s == 3) & (e % 2 == 0), F.lit("W3"))
        .otherwise(true_v)
    )
    return cust.select(
        s.alias("source_id"),
        e.alias("entity_id"),
        F.lit("segment").alias("attr"),
        val.alias("value"),
    )


_TD_CTES = (
    f"td_claims AS ({_TD_CLAIMS_SQL}), "
    + __import__(
        "sneaky_data_matcher_spark.operators.fusion", fromlist=["x"]
    ).truth_discovery_sql_ctes("td_claims", rounds=2)
)


@_q(
    "truth_discovery",
    f"WITH {_TD_CTES} SELECT entity_id, attr, value, confidence FROM td_elected",
)
def truth_discovery_q(spark, sf_dir):
    from .operators.fusion import truth_discovery

    elected, _ = truth_discovery(_td_claims_frame(spark, sf_dir), rounds=2)
    return elected


@_q(
    "td_source_trust",
    f"WITH {_TD_CTES} SELECT source_id, trust FROM td_trust",
)
def td_source_trust_q(spark, sf_dir):
    from .operators.fusion import truth_discovery

    _, trust = truth_discovery(_td_claims_frame(spark, sf_dir), rounds=2)
    return trust


# B-cubed comparison of the two clusterings of the SAME match graph:
# LPA communities (pred) vs transitive CC clusters (truth). LPA only
# splits CC clusters, so B-cubed precision is 1.0 by construction
# (tested invariant) and recall measures how much splitting happened.
@_q(
    "bcubed_lpa_vs_cc",
    __import__(
        "sneaky_data_matcher_spark.operators.evaluation", fromlist=["x"]
    ).bcubed_sql(
        "bc_pred",
        "bc_truth",
        prelude_ctes=(
            _ER_CLUSTERS_CTE
            + ", bmsym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges), "
            "lpa_nodes AS (SELECT doc_id FROM canon WHERE doc_text <> ''), "
            + __import__(
                "sneaky_data_matcher_spark.operators.clustering", fromlist=["x"]
            ).lpa_sql_ctes("bmsym", "lpa_nodes", rounds=3)
            + ", bc_pred AS (SELECT node AS doc_id, label AS cluster_id FROM lpa_final), "
            "bc_truth AS (SELECT doc_id, cluster_id FROM clusters)"
        ),
        recursive=True,
    ),
)
def bcubed_lpa_vs_cc_q(spark, sf_dir):
    from .operators.clustering import lpa_communities
    from .operators.evaluation import bcubed

    canon, _, _ = _er_frames(spark, sf_dir)
    edges = _er_match_edges_scored(spark, sf_dir).select(
        F.col("u").alias("doc_id_a"), F.col("v").alias("doc_id_b")
    )
    pred = lpa_communities(edges, canon.select("doc_id"), rounds=3).select(
        "doc_id", F.col("community").alias("cluster_id")
    )
    truth = er_clusters(spark, sf_dir)
    return bcubed(pred, truth)


# Unsupervised threshold selection on the ER candidate scores: the
# histogram-valley between the non-match and match modes (labeled
# alternative: er_threshold_sweep).
@_q(
    "er_threshold_valley",
    f"WITH {_ER_SCORED_CTE}, "
    f"tv_scores AS (SELECT round({_ER_SCORE_SQL}, 6) AS score FROM er_scored) "
    + __import__(
        "sneaky_data_matcher_spark.operators.evaluation", fromlist=["x"]
    ).threshold_valley_sql("tv_scores").replace("WITH tv_b", ", tv_b", 1),
)
def er_threshold_valley_q(spark, sf_dir):
    from .operators.evaluation import threshold_valley

    s = _er_scored_frame(spark, sf_dir)
    score = F.round(
        _er_score(), 6
    )
    return threshold_valley(s.select(score.alias("score")))


# Ligature expansion composed with accent folding: construct ligature-
# polluted text deterministically, expand + fold, prove the round trip.
_LIG_RAW_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN replace(replace(text, 'ss', 'ß'), 'ae', 'æ') "
    "WHEN doc_id % 3 = 1 THEN replace(replace(text, 'fi', 'ﬁ'), 'th', 'þ') "
    "ELSE text END"
)


@_q(
    "ligature_fold",
    "SELECT doc_id, "
    + __import__(
        "sneaky_data_matcher_spark.functions.canonicalize", fromlist=["x"]
    ).expand_ligatures_sql(_LIG_RAW_SQL)
    + " AS expanded, "
    + __import__(
        "sneaky_data_matcher_spark.functions.canonicalize", fromlist=["x"]
    ).expand_ligatures_sql(_LIG_RAW_SQL)
    + " = text AS roundtrip FROM documents",
)
def ligature_fold_q(spark, sf_dir):
    from .functions.canonicalize import expand_ligatures

    d = _docs(spark, sf_dir)
    t = F.col("text")
    raw = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.replace(F.replace(t, F.lit("ss"), F.lit("ß")), F.lit("ae"), F.lit("æ")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.replace(F.replace(t, F.lit("fi"), F.lit("ﬁ")), F.lit("th"), F.lit("þ")),
        )
        .otherwise(t)
    )
    expanded = expand_ligatures(raw)
    return d.select(
        "doc_id", expanded.alias("expanded"), (expanded == t).alias("roundtrip")
    )


# Cascade verification (the BENCH.md implication, operational): the cheap
# composite decides outside an uncertainty band; the expensive hybrid
# (soft TF-IDF, ~170x the per-pair cost — measured) runs ONLY inside it.
# At sf0.01 the band is 8,529 of 39,492 pairs (21.6%) — the ~78% cost cut
# on the expensive kernel is the point of the pattern. The soft bar sits
# high (0.99) because the template-generated fixture docs share most
# low-idf tokens, which inflates soft cosine corpus-wide.
_CASCADE_LO, _CASCADE_HI, _CASCADE_SOFT = 0.72, 0.85, 0.99


@_q(
    "er_cascade_matches",
    f"WITH {_ER_SCORED_CTE}, "
    f"cv_cheap AS (SELECT doc_id_a, doc_id_b, round({_ER_SCORE_SQL}, 6) AS cheap "
    "FROM er_scored), "
    f"cv_band AS (SELECT doc_id_a, doc_id_b FROM cv_cheap "
    f"WHERE cheap >= {_CASCADE_LO!r} AND cheap < {_CASCADE_HI!r}), "
    + __import__(
        "sneaky_data_matcher_spark.operators.setsim", fromlist=["x"]
    ).soft_tfidf_sql_ctes("cv_band", "canon")
    + " SELECT c.doc_id_a, c.doc_id_b, c.cheap, "
    "CASE WHEN c.cheap >= 0.85 THEN 'cheap' ELSE 'soft_tfidf' END AS decided_by "
    "FROM cv_cheap c LEFT JOIN soft_out s USING (doc_id_a, doc_id_b) "
    f"WHERE c.cheap >= {_CASCADE_HI!r} "
    f"OR (s.soft_tfidf IS NOT NULL AND s.soft_tfidf >= {_CASCADE_SOFT!r})",
)
def er_cascade_matches_q(spark, sf_dir):
    from .operators.setsim import soft_tfidf_pairs

    canon, _, _ = _er_frames(spark, sf_dir)
    s = _er_scored_frame(spark, sf_dir)
    cheap = s.select(
        "doc_id_a",
        "doc_id_b",
        F.round(
            _er_score(),
            6,
        ).alias("cheap"),
    )
    band = cheap.where(
        (F.col("cheap") >= _CASCADE_LO) & (F.col("cheap") < _CASCADE_HI)
    ).select("doc_id_a", "doc_id_b")
    soft = soft_tfidf_pairs(band, canon, jw_threshold=0.9)
    j = cheap.join(soft, ["doc_id_a", "doc_id_b"], "left")
    return j.where(
        (F.col("cheap") >= _CASCADE_HI)
        | (F.col("soft_tfidf").isNotNull() & (F.col("soft_tfidf") >= _CASCADE_SOFT))
    ).select(
        "doc_id_a",
        "doc_id_b",
        "cheap",
        F.when(F.col("cheap") >= _CASCADE_HI, F.lit("cheap"))
        .otherwise(F.lit("soft_tfidf"))
        .alias("decided_by"),
    )


# Contact comparators over dual-source phone/email fixtures (residue-
# chosen corruption modes, same style as dob/amount fixtures).
_PHONE_A_SQL = "'555' || lpad(CAST(c_custkey * 37 % 10000000 AS VARCHAR), 7, '0')"
_PHONE_B_SQL = (
    "CASE WHEN c_custkey % 4 = 0 THEN ph_a "
    "WHEN c_custkey % 4 = 1 THEN '1' || ph_a "
    "WHEN c_custkey % 4 = 2 THEN '555999' || right(ph_a, 4) "
    "ELSE '8675309' END"
)
_EMAIL_A_SQL = (
    "'user.' || CAST(c_custkey AS VARCHAR) || '@ex' "
    "|| CAST(c_custkey % 5 AS VARCHAR) || '.com'"
)
_EMAIL_B_SQL = (
    "CASE WHEN c_custkey % 4 = 0 THEN em_a "
    "WHEN c_custkey % 4 = 1 THEN 'USER' || CAST(c_custkey AS VARCHAR) "
    "  || '+promo@EX' || CAST(c_custkey % 5 AS VARCHAR) || '.COM' "
    "WHEN c_custkey % 4 = 2 THEN 'other@ex' || CAST(c_custkey % 5 AS VARCHAR) || '.com' "
    "ELSE 'user.' || CAST(c_custkey AS VARCHAR) || '@nowhere.net' END"
)


@_q(
    "contact_match_features",
    "SELECT c_custkey, ph_a, ph_b, em_a, em_b, "
    + __import__(
        "sneaky_data_matcher_spark.functions.comparators", fromlist=["x"]
    ).phone_match_sql("ph_a", "ph_b")
    + " AS phone_level, "
    + __import__(
        "sneaky_data_matcher_spark.functions.comparators", fromlist=["x"]
    ).email_match_sql("em_a", "em_b")
    + f" AS email_level FROM (SELECT c_custkey, ph_a, em_a, {_PHONE_B_SQL} AS ph_b, "
    f"{_EMAIL_B_SQL} AS em_b FROM (SELECT c_custkey, {_PHONE_A_SQL} AS ph_a, "
    f"{_EMAIL_A_SQL} AS em_a FROM customer))",
)
def contact_match_features_q(spark, sf_dir):
    from .functions.comparators import email_match_level, phone_match_level

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    ph_a = F.concat(
        F.lit("555"), F.lpad((k * 37 % 10000000).cast("string"), 7, "0")
    )
    em_a = F.concat(
        F.lit("user."), k.cast("string"), F.lit("@ex"),
        (k % 5).cast("string"), F.lit(".com"),
    )
    t = cust.select("c_custkey", ph_a.alias("ph_a"), em_a.alias("em_a"))
    pa = F.col("ph_a")
    ph_b = (
        F.when(k % 4 == 0, pa)
        .when(k % 4 == 1, F.concat(F.lit("1"), pa))
        .when(k % 4 == 2, F.concat(F.lit("555999"), F.substring(pa, -4, 4)))
        .otherwise(F.lit("8675309"))
    )
    em_b = (
        F.when(k % 4 == 0, F.col("em_a"))
        .when(
            k % 4 == 1,
            F.concat(
                F.lit("USER"), k.cast("string"), F.lit("+promo@EX"),
                (k % 5).cast("string"), F.lit(".COM"),
            ),
        )
        .when(
            k % 4 == 2,
            F.concat(F.lit("other@ex"), (k % 5).cast("string"), F.lit(".com")),
        )
        .otherwise(
            F.concat(F.lit("user."), k.cast("string"), F.lit("@nowhere.net"))
        )
    )
    t = t.withColumn("ph_b", ph_b).withColumn("em_b", em_b)
    return t.select(
        "c_custkey",
        "ph_a",
        "ph_b",
        "em_a",
        "em_b",
        phone_match_level(F.col("ph_a"), F.col("ph_b")).alias("phone_level"),
        email_match_level(F.col("em_a"), F.col("em_b")).alias("email_level"),
    )


# Confusable folding: pollute even-id docs Latin->Cyrillic on the
# involutive subset, fold back, prove the round trip (same certificate
# shape as width_fold / ligature_fold).
_CONF_LAT = "aeopcyx"
_CONF_CYR = "аеорсух"


@_q(
    "confusable_fold",
    "SELECT doc_id, "
    + __import__(
        "sneaky_data_matcher_spark.functions.canonicalize", fromlist=["x"]
    ).fold_confusables_sql(
        f"CASE WHEN doc_id % 2 = 0 THEN translate(text, '{_CONF_LAT}', '{_CONF_CYR}') ELSE text END"
    )
    + " = text AS roundtrip, "
    + __import__(
        "sneaky_data_matcher_spark.functions.canonicalize", fromlist=["x"]
    ).fold_confusables_sql(
        f"CASE WHEN doc_id % 2 = 0 THEN translate(text, '{_CONF_LAT}', '{_CONF_CYR}') ELSE text END"
    )
    + " AS folded FROM documents",
)
def confusable_fold_q(spark, sf_dir):
    from .functions.canonicalize import fold_confusables

    d = _docs(spark, sf_dir)
    polluted = F.when(
        F.col("doc_id") % 2 == 0,
        F.translate(F.col("text"), _CONF_LAT, _CONF_CYR),
    ).otherwise(F.col("text"))
    folded = fold_confusables(polluted)
    return d.select(
        "doc_id",
        (folded == F.col("text")).alias("roundtrip"),
        folded.alias("folded"),
    )


# Interpolated bigram LM scores (operators/lm.py) — the order-2 CCNet-
# style perplexity filter next to lm_logprob's unigram.
@_q(
    "bigram_lm_logprob",
    "WITH "
    + __import__(
        "sneaky_data_matcher_spark.operators.lm", fromlist=["x"]
    ).bigram_logprob_sql_ctes("documents")
    + " SELECT doc_id, n_bigrams, mean_logprob FROM blm_out",
)
def bigram_lm_logprob_q(spark, sf_dir):
    from .operators.lm import bigram_logprob_scores

    return bigram_logprob_scores(_docs(spark, sf_dir))


# Cluster-merge review queue: pairs of DISTINCT final clusters connected
# by near-miss candidate evidence (composite in [0.7, 0.8) — just under
# the match bar), ranked by their strongest cross edge and total
# evidence. The clerical-review complement of er_review_queue (which
# ranks PAIR decisions): this ranks CLUSTER-MERGE decisions, the thing a
# steward actually signs off on.
@_q(
    "er_merge_review",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    f"mr_near AS (SELECT s.doc_id_a, s.doc_id_b, round({_ER_SCORE_SQL}, 6) AS score "
    f"  FROM er_scored s WHERE {_ER_SCORE_SQL} >= 0.7 AND NOT ({_ER_MATCH_COND})), "
    "mr_x AS (SELECT least(ca.cluster_id, cb.cluster_id) AS cluster_lo, "
    "  greatest(ca.cluster_id, cb.cluster_id) AS cluster_hi, n.score "
    "  FROM mr_near n JOIN clusters ca ON n.doc_id_a = ca.doc_id "
    "  JOIN clusters cb ON n.doc_id_b = cb.doc_id "
    "  WHERE ca.cluster_id <> cb.cluster_id) "
    "SELECT cluster_lo, cluster_hi, count(*) AS n_edges, "
    "max(score) AS best_score, "
    "CAST(sum(CAST(score AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS avg_score "
    "FROM mr_x GROUP BY 1, 2",
)
def er_merge_review_q(spark, sf_dir):
    assign = er_clusters(spark, sf_dir)
    s = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    near = s.where((score >= 0.7) & ~(score >= 0.8)).select(
        "doc_id_a", "doc_id_b", F.round(score, 6).alias("score")
    )
    ca = assign.select(
        F.col("doc_id").alias("doc_id_a"), F.col("cluster_id").alias("cl_a")
    )
    cb = assign.select(
        F.col("doc_id").alias("doc_id_b"), F.col("cluster_id").alias("cl_b")
    )
    x = (
        near.join(ca, "doc_id_a")
        .join(cb, "doc_id_b")
        .where(F.col("cl_a") != F.col("cl_b"))
        .select(
            F.least("cl_a", "cl_b").alias("cluster_lo"),
            F.greatest("cl_a", "cl_b").alias("cluster_hi"),
            "score",
        )
    )
    return x.groupBy("cluster_lo", "cluster_hi").agg(
        F.count("*").alias("n_edges"),
        F.max("score").alias("best_score"),
        (
            F.sum(F.col("score").cast("decimal(18,9)")).cast("double")
            / F.count("*")
        ).alias("avg_score"),
    )


# ---------------------------------------------------------------------------
# Persistent entity ids + cluster churn (operators/entity_ids.py): the
# production-ER continuity pair. The previous run is simulated as the 0.8
# clustering over the EVEN-doc_id half of the corpus; the current run is
# the 0.85 clustering over everything — so the transition genuinely
# exercises new docs arriving (odd ids), entities growing/merging across
# the new arrivals, and strict-threshold splits, all deterministically.
# The oracle replays both recursive closures and the same mutual-best
# windows.
# ---------------------------------------------------------------------------

_ER_PREV_CUR_CTE = (
    _ER_SCORED_CTE
    + ", pe AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored "
    f"  WHERE ({_ER_MATCH_COND}) AND doc_id_a % 2 = 0 AND doc_id_b % 2 = 0), "
    "ps AS (SELECT u, v FROM pe UNION SELECT v, u FROM pe), "
    "pr(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' AND doc_id % 2 = 0 "
    "  UNION SELECT r.a, s.v FROM pr r JOIN ps s ON r.b = s.u), "
    "p AS MATERIALIZED (SELECT a AS doc_id, min(b) AS entity_id FROM pr GROUP BY a), "
    "ce AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored "
    f"  WHERE {_ER_STRICT_COND}), "
    "cs AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce), "
    "cr(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM cr r JOIN cs s ON r.b = s.u), "
    "c AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM cr GROUP BY a), "
    "ov AS MATERIALIZED (SELECT entity_id, cluster_id, count(*) AS overlap_n "
    "  FROM p JOIN c USING (doc_id) GROUP BY entity_id, cluster_id)"
)


def _er_prev_cur(spark, sf_dir):
    """Spark side of the simulated prev/cur assignment pair (cached)."""
    from .operators.clustering import cluster_nodes

    s = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    canon, _, _ = _er_frames(spark, sf_dir)

    def build_prev():
        edges = s.where(
            (score >= 0.8)
            & (F.col("doc_id_a") % 2 == 0)
            & (F.col("doc_id_b") % 2 == 0)
        ).select("doc_id_a", "doc_id_b")
        return cluster_nodes(
            canon.where(F.col("doc_id") % 2 == 0), edges
        ).withColumnRenamed("cluster_id", "entity_id")

    def build_cur():
        edges = s.where(score >= 0.85).select("doc_id_a", "doc_id_b")
        return cluster_nodes(canon, edges)

    prev = _cached(spark, sf_dir, "er_prev_assign", build_prev)
    cur = _cached(spark, sf_dir, "er_cur_assign", build_cur)
    return prev, cur


@_q(
    "er_persistent_ids",
    f"WITH RECURSIVE {_ER_PREV_CUR_CTE}, "
    "nom AS (SELECT entity_id, cluster_id, overlap_n, "
    "  row_number() OVER (PARTITION BY entity_id ORDER BY overlap_n DESC, cluster_id) AS rk_e FROM ov), "
    "inh AS (SELECT cluster_id, entity_id FROM ("
    "  SELECT cluster_id, entity_id, "
    "  row_number() OVER (PARTITION BY cluster_id ORDER BY overlap_n DESC, entity_id) AS rk_c "
    "  FROM nom WHERE rk_e = 1) WHERE rk_c = 1) "
    "SELECT c.doc_id, c.cluster_id, coalesce(i.entity_id, c.cluster_id) AS entity_id, "
    "CASE WHEN i.entity_id IS NULL THEN 'minted' ELSE 'inherited' END AS id_source "
    "FROM c LEFT JOIN inh i USING (cluster_id)",
)
def er_persistent_ids_q(spark, sf_dir):
    from .operators import entity_ids

    prev, cur = _er_prev_cur(spark, sf_dir)
    return entity_ids.persistent_entity_ids(prev, cur)


# churn-report SQL tail shared by er_cluster_churn and er_forget_audit:
# reads CTEs p(doc_id, entity_id), c(doc_id, cluster_id),
# ov(entity_id, cluster_id, overlap_n)
_CHURN_TAIL_SQL = (
    "psize AS (SELECT entity_id, count(*) AS prev_size FROM p GROUP BY entity_id), "
    "spread AS (SELECT entity_id, count(DISTINCT cluster_id) AS n_cur_clusters FROM ov GROUP BY entity_id), "
    "percl AS (SELECT cluster_id, count(DISTINCT entity_id) AS n_prev_entities, "
    "  CAST(sum(overlap_n) AS BIGINT) AS n_carried FROM ov GROUP BY cluster_id), "
    "csize AS (SELECT cluster_id, count(*) AS n_members FROM c GROUP BY cluster_id), "
    "single AS (SELECT ov.cluster_id, ov.overlap_n, psize.prev_size, spread.n_cur_clusters "
    "  FROM ov JOIN percl ON ov.cluster_id = percl.cluster_id AND percl.n_prev_entities = 1 "
    "  JOIN psize USING (entity_id) JOIN spread USING (entity_id)) "
    "SELECT cs.cluster_id, cs.n_members, "
    "coalesce(pc.n_prev_entities, 0) AS n_prev_entities, "
    "cs.n_members - coalesce(pc.n_carried, 0) AS n_new_docs, "
    "CASE WHEN coalesce(pc.n_prev_entities, 0) = 0 THEN 'new' "
    "  WHEN pc.n_prev_entities >= 2 THEN 'merged' "
    "  WHEN sg.n_cur_clusters >= 2 THEN 'split' "
    "  WHEN sg.overlap_n = sg.prev_size AND cs.n_members - pc.n_carried = 0 THEN 'stable' "
    "  WHEN sg.overlap_n = sg.prev_size THEN 'grown' "
    "  WHEN cs.n_members - pc.n_carried = 0 THEN 'shrunk' "
    "  ELSE 'changed' END AS status "
    "FROM csize cs LEFT JOIN percl pc USING (cluster_id) "
    "LEFT JOIN single sg ON cs.cluster_id = sg.cluster_id"
)


@_q(
    "er_cluster_churn",
    f"WITH RECURSIVE {_ER_PREV_CUR_CTE}, {_CHURN_TAIL_SQL}",
)
def er_cluster_churn_q(spark, sf_dir):
    from .operators import entity_ids

    prev, cur = _er_prev_cur(spark, sf_dir)
    return entity_ids.cluster_churn(prev, cur)


# ---------------------------------------------------------------------------
# Leakage-safe corpus splitting (operators/sampling.py cluster_split): the
# split is a function of the CLUSTER key, so an entity's near-duplicates
# can never straddle train/eval — the internal-holdout complement of the
# decontamination operator.
# ---------------------------------------------------------------------------


@_q(
    "cluster_split_docs",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE} "
    "SELECT doc_id, cluster_id, "
    "CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' "
    "  ELSE 'test' END AS split "
    f"FROM (SELECT doc_id, cluster_id, {_lehmer_sql('cluster_id')} AS u FROM clusters)",
)
def cluster_split_docs_q(spark, sf_dir):
    from .operators.sampling import cluster_split

    assign = er_clusters(spark, sf_dir)
    return cluster_split(assign)


# ---------------------------------------------------------------------------
# Blocking-scheme quality vs EXTERNAL truth (operators/evaluation.py
# blocking_quality): Christen's reduction-ratio / pairs-completeness /
# pairs-quality per blocking pass + the union scheme, against the same
# n-gram-Jaccard>=0.7 truth relation er_eval uses. The literature-standard
# drop-or-keep table for blocking passes; complements blocking_pass_report
# (which measures coverage of the matcher's OWN matches, not truth).
# ---------------------------------------------------------------------------


@_q(
    "blocking_quality",
    f"WITH {_ER_KEYS_CTE}, {_NGRAM_SH_CTE}, "
    "truth AS MATERIALIZED (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7), "
    "pp AS MATERIALIZED (SELECT DISTINCT a.pass, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "  FROM er_keys a JOIN er_keys b ON a.pass = b.pass AND a.block_key = b.block_key "
    "  WHERE a.doc_id < b.doc_id), "
    "cand AS (SELECT pass, doc_id_a, doc_id_b FROM pp "
    "  UNION ALL SELECT DISTINCT 'all', doc_id_a, doc_id_b FROM pp), "
    "nrec AS (SELECT count(*) AS n FROM canon WHERE doc_text <> ''), "
    "ntr AS (SELECT count(*) AS n FROM truth), "
    "st AS (SELECT pass, count(*) AS n_candidates, count(t.doc_id_a) AS n_truth_hits "
    "  FROM cand c LEFT JOIN truth t USING (doc_id_a, doc_id_b) GROUP BY pass) "
    "SELECT pass, n_candidates, n_truth_hits, "
    "round(1.0 - CAST(n_candidates AS DOUBLE) / CAST(nrec.n * (nrec.n - 1) // 2 AS DOUBLE), 6) AS reduction_ratio, "
    "round(CAST(n_truth_hits AS DOUBLE) / CAST(greatest(ntr.n, 1) AS DOUBLE), 6) AS pairs_completeness, "
    "round(CAST(n_truth_hits AS DOUBLE) / CAST(greatest(n_candidates, 1) AS DOUBLE), 6) AS pairs_quality "
    "FROM st CROSS JOIN nrec CROSS JOIN ntr",
)
def blocking_quality_q(spark, sf_dir):
    from .operators import evaluation

    canon, keys, _ = _er_frames(spark, sf_dir)
    truth = ngram_dup_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    n_records = canon.count()
    return evaluation.blocking_quality(keys, truth, n_records)


# ---------------------------------------------------------------------------
# Value standardization (operators/standardize.py): OpenRefine-style
# fingerprint key-collision clustering of a messy column + modal canonical
# election. Deterministic surface-form pollution is synthesized from
# customer.c_mktsegment identically on both engines (case, punctuation,
# padding, accents; the '%4=3' variant adds a real token, which must NOT
# merge — different fingerprint).
# ---------------------------------------------------------------------------

_STD_RAW_SQL = (
    "CASE c_custkey % 4 "
    "WHEN 0 THEN c_mktsegment "
    "WHEN 1 THEN lower(c_mktsegment) || '.' "
    "WHEN 2 THEN '  ' || c_mktsegment || ' ' "
    "ELSE regexp_replace(lower(c_mktsegment), 'a', 'á', 'g') || ', dept' END"
)

from .operators.standardize import fingerprint_sql as _fp_sql  # noqa: E402


@_q(
    "value_standardize",
    "WITH raw AS (SELECT c_custkey, " + _STD_RAW_SQL + " AS value FROM customer), "
    "census AS MATERIALIZED (SELECT value, count(*) AS n_rows, "
    f"  {_fp_sql('value')} AS fp FROM raw GROUP BY value), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY n_rows DESC, value) AS rk FROM census), "
    "canon AS (SELECT fp, value AS canonical_value FROM ranked WHERE rk = 1), "
    "sizes AS (SELECT fp, count(*) AS group_size FROM census GROUP BY fp) "
    "SELECT c.value, "
    "CASE WHEN c.fp = '' THEN c.value ELSE k.canonical_value END AS canonical_value, "
    "c.n_rows, CASE WHEN c.fp = '' THEN 1 ELSE s.group_size END AS group_size "
    "FROM census c JOIN canon k USING (fp) JOIN sizes s USING (fp)",
)
def value_standardize_q(spark, sf_dir):
    from .operators.standardize import standardize_values

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    seg = F.col("c_mktsegment")
    raw = (
        F.when(F.col("c_custkey") % 4 == 0, seg)
        .when(F.col("c_custkey") % 4 == 1, F.concat(F.lower(seg), F.lit(".")))
        .when(
            F.col("c_custkey") % 4 == 2,
            F.concat(F.lit("  "), seg, F.lit(" ")),
        )
        .otherwise(
            F.concat(
                F.regexp_replace(F.lower(seg), "a", "á"), F.lit(", dept")
            )
        )
    )
    return standardize_values(cust.select(raw.alias("value")), "value")


# ---------------------------------------------------------------------------
# Audit-sample precision estimation (operators/evaluation.py
# sampled_precision): stratify predicted matches by score band, grade a
# deterministic k-per-band Lehmer sample against the n-gram truth (the
# stand-in clerical reviewer), report per-band precision + Wilson 95% CI.
# The estimator a 10^12-pair matcher actually ships — nobody labels the
# full match set. Oracle replays bands, the ranked sample, and the same
# Wilson expression term for term.
# ---------------------------------------------------------------------------


@_q(
    "er_precision_estimate",
    f"WITH {_ER_SCORED_CTE}, {_NGRAM_SH_CTE}, "
    "truth AS MATERIALIZED (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7), "
    "m AS MATERIALIZED (SELECT doc_id_a, doc_id_b, "
    "  CAST(floor((0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard) * 20.0) * 5 AS INT) AS band_pct, "
    f"  {_lehmer_sql('(doc_id_a * 100000 + doc_id_b)')} AS u "
    f"  FROM er_scored WHERE {_ER_MATCH_COND}), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY band_pct ORDER BY u, doc_id_a, doc_id_b) AS rk FROM m), "
    "graded AS (SELECT band_pct, count(*) AS n_sampled, count(t.doc_id_a) AS n_true_sampled "
    "  FROM ranked r LEFT JOIN truth t USING (doc_id_a, doc_id_b) WHERE rk <= 50 GROUP BY band_pct), "
    "pop AS (SELECT band_pct, count(*) AS n_pairs FROM m GROUP BY band_pct), "
    "wil AS (SELECT band_pct, n_pairs, n_sampled, n_true_sampled, "
    "  CAST(n_true_sampled AS DOUBLE) / CAST(n_sampled AS DOUBLE) AS p, "
    "  CAST(n_sampled AS DOUBLE) AS n FROM pop JOIN graded USING (band_pct)) "
    "SELECT band_pct, n_pairs, n_sampled, n_true_sampled, "
    "round(p, 6) AS p_hat, "
    "round((p + 1.959964*1.959964/(2.0*n)) / (1.0 + 1.959964*1.959964/n) "
    "  - 1.959964 * sqrt(p*(1.0-p)/n + 1.959964*1.959964/(4.0*n*n)) / (1.0 + 1.959964*1.959964/n), 6) AS wilson_lo, "
    "round((p + 1.959964*1.959964/(2.0*n)) / (1.0 + 1.959964*1.959964/n) "
    "  + 1.959964 * sqrt(p*(1.0-p)/n + 1.959964*1.959964/(4.0*n*n)) / (1.0 + 1.959964*1.959964/n), 6) AS wilson_hi "
    "FROM wil",
)
def er_precision_estimate_q(spark, sf_dir):
    from .operators import evaluation

    s = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    )
    matches = s.where(score >= 0.8).select(
        "doc_id_a", "doc_id_b", score.alias("score")
    )
    truth = ngram_dup_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return evaluation.sampled_precision(matches, truth)


# ---------------------------------------------------------------------------
# Truth-free blocking-recall estimate (operators/evaluation.py
# capture_recapture_recall): treat the pfx and srt passes as independent
# capture occasions over the (unknown) true-match population and apply the
# Chapman census estimator — the coverage answer when no labels exist at
# 10^12 pairs. Counts exact; the estimate is one mirrored expression.
# ---------------------------------------------------------------------------


@_q(
    "er_recall_estimate",
    f"WITH {_ER_SCORED_CTE}, "
    "pp AS (SELECT DISTINCT a.pass, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "  FROM er_keys a JOIN er_keys b ON a.pass = b.pass AND a.block_key = b.block_key "
    "  WHERE a.doc_id < b.doc_id), "
    f"mt AS (SELECT doc_id_a, doc_id_b FROM er_scored WHERE {_ER_MATCH_COND}), "
    "tag AS (SELECT DISTINCT pp.pass, pp.doc_id_a, pp.doc_id_b FROM pp JOIN mt USING (doc_id_a, doc_id_b)), "
    "per AS (SELECT doc_id_a, doc_id_b, "
    "  max(CASE WHEN pass = 'pfx' THEN 1 ELSE 0 END) AS in_a, "
    "  max(CASE WHEN pass = 'srt' THEN 1 ELSE 0 END) AS in_b FROM tag GROUP BY doc_id_a, doc_id_b), "
    "ag AS (SELECT CAST(sum(in_a) AS BIGINT) AS n_a, CAST(sum(in_b) AS BIGINT) AS n_b, "
    "  CAST(sum(in_a * in_b) AS BIGINT) AS n_both, count(*) AS n_union "
    "  FROM per WHERE in_a = 1 OR in_b = 1) "
    "SELECT n_a, n_b, n_both, n_union, "
    "round((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0) / (CAST(n_both AS DOUBLE) + 1.0) - 1.0, 6) AS est_total_matches, "
    "round(greatest((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0) / (CAST(n_both AS DOUBLE) + 1.0) - 1.0 - CAST(n_union AS DOUBLE), 0.0), 6) AS est_missed, "
    "round(least(CAST(n_union AS DOUBLE) / ((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0) / (CAST(n_both AS DOUBLE) + 1.0) - 1.0), 1.0), 6) AS est_completeness "
    "FROM ag",
)
def er_recall_estimate_q(spark, sf_dir):
    from .operators import evaluation

    _, keys, _ = _er_frames(spark, sf_dir)
    k = keys.select("doc_id", "pass", "block_key")
    a = k.select("pass", "block_key", F.col("doc_id").alias("doc_id_a"))
    b = k.select("pass", "block_key", F.col("doc_id").alias("doc_id_b"))
    per_pass = (
        a.join(b, ["pass", "block_key"])
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("pass", "doc_id_a", "doc_id_b")
        .distinct()
    )
    mt = er_matches(spark, sf_dir)
    tagged = per_pass.join(mt, ["doc_id_a", "doc_id_b"])
    return evaluation.capture_recapture_recall(tagged, "pfx", "srt")


# ---------------------------------------------------------------------------
# Match explanation: per-feature weighted contributions + threshold margin
# + dominant-evidence label for every match — the "why did these two link"
# column set a review UI renders next to each pair.
# ---------------------------------------------------------------------------


@_q(
    "er_match_explain",
    f"WITH {_ER_SCORED_CTE} "
    "SELECT doc_id_a, doc_id_b, "
    "round(0.4*jw, 6) AS jw_term, round(0.2*lev_ratio, 6) AS lev_term, "
    "round(0.4*tok_jaccard, 6) AS tok_term, "
    "round(0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard - 0.8, 6) AS margin, "
    "CASE WHEN 0.4*jw >= 0.2*lev_ratio AND 0.4*jw >= 0.4*tok_jaccard THEN 'jw' "
    "  WHEN 0.2*lev_ratio >= 0.4*tok_jaccard THEN 'lev' ELSE 'tok' END AS top_feature "
    f"FROM er_scored WHERE {_ER_MATCH_COND}",
)
def er_match_explain_q(spark, sf_dir):
    s = _er_scored_frame(spark, sf_dir)
    jw_t = 0.4 * F.col("jw")
    lev_t = 0.2 * F.col("lev_ratio")
    tok_t = 0.4 * F.col("tok_jaccard")
    score = jw_t + lev_t + tok_t
    top = (
        F.when((jw_t >= lev_t) & (jw_t >= tok_t), F.lit("jw"))
        .when(lev_t >= tok_t, F.lit("lev"))
        .otherwise(F.lit("tok"))
    )
    return s.where(score >= 0.8).select(
        "doc_id_a",
        "doc_id_b",
        F.round(jw_t, 6).alias("jw_term"),
        F.round(lev_t, 6).alias("lev_term"),
        F.round(tok_t, 6).alias("tok_term"),
        F.round(score - 0.8, 6).alias("margin"),
        top.alias("top_feature"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py): learn the ordered merge table
# over the documents corpus — vocabulary-sized rounds after one corpus
# census; the oracle replays every round (pair census, argmax with the
# same tie-break, the same list_reduce fold) and must learn the SAME
# merges, frequencies included.
# ---------------------------------------------------------------------------

from .operators.bpe import bpe_train_sql as _bpe_train_sql  # noqa: E402


@_q("bpe_merges", _bpe_train_sql(6))
def bpe_merges_q(spark, sf_dir):
    from .operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=6)


# ---------------------------------------------------------------------------
# Cross-source entity overlap (the data-fusion planning matrix): for each
# unordered source pair, how many resolved entities contain documents from
# BOTH — the number every multi-source integration project needs before
# deciding which feeds actually link. Diagonal rows (a = b) count entities
# with >= 2 docs from the same source (intra-source duplication).
# ---------------------------------------------------------------------------


@_q(
    "source_overlap_matrix",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    "cs AS (SELECT DISTINCT c.cluster_id, d.source FROM clusters c "
    "  JOIN documents d ON c.doc_id = d.doc_id), "
    "dup AS (SELECT c.cluster_id, d.source FROM clusters c "
    "  JOIN documents d ON c.doc_id = d.doc_id GROUP BY c.cluster_id, d.source HAVING count(*) >= 2) "
    "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_entities "
    "FROM cs a JOIN cs b ON a.cluster_id = b.cluster_id AND a.source < b.source "
    "GROUP BY a.source, b.source "
    "UNION ALL SELECT source, source, count(*) FROM dup GROUP BY source",
)
def source_overlap_matrix_q(spark, sf_dir):
    cl = er_clusters(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", "source")
    j = cl.join(d, "doc_id")
    cs = j.select("cluster_id", "source").distinct()
    a = cs.select("cluster_id", F.col("source").alias("source_a"))
    b = cs.select("cluster_id", F.col("source").alias("source_b"))
    cross = (
        a.join(b, "cluster_id")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_entities"))
    )
    diag = (
        j.groupBy("cluster_id", "source")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .groupBy("source")
        .agg(F.count("*").alias("n_entities"))
        .select(
            F.col("source").alias("source_a"),
            F.col("source").alias("source_b"),
            "n_entities",
        )
    )
    return cross.unionByName(diag)


# ---------------------------------------------------------------------------
# Right-to-be-forgotten cascade audit: delete a deterministic doc subset
# (doc_id % 37 = 0 — the stand-in deletion request), re-resolve the
# remaining corpus, and report the per-cluster impact as a churn report
# vs the pre-deletion entities. The honest version of GDPR delete in an
# ER system: removing a BRIDGE document legitimately splits its cluster,
# which a naive "drop the rows" audit never surfaces. Statuses here can
# only be stable/shrunk/split (nothing is added — tested invariant).
# ---------------------------------------------------------------------------

_FORGET_COND = "doc_id % 37 <> 0"


@_q(
    "er_forget_audit",
    f"WITH RECURSIVE {_ER_SCORED_CTE}, "
    f"fe AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_MATCH_COND}), "
    "fs AS (SELECT u, v FROM fe UNION SELECT v, u FROM fe), "
    "fr(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM fr r JOIN fs s ON r.b = s.u), "
    "p AS MATERIALIZED (SELECT a AS doc_id, min(b) AS entity_id FROM fr GROUP BY a), "
    f"ke AS MATERIALIZED (SELECT u, v FROM fe WHERE u % 37 <> 0 AND v % 37 <> 0), "
    "ks AS (SELECT u, v FROM ke UNION SELECT v, u FROM ke), "
    f"kr(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' AND {_FORGET_COND} "
    "  UNION SELECT r.a, s.v FROM kr r JOIN ks s ON r.b = s.u), "
    "c AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM kr GROUP BY a), "
    "ov AS MATERIALIZED (SELECT entity_id, cluster_id, count(*) AS overlap_n "
    "  FROM p JOIN c USING (doc_id) GROUP BY entity_id, cluster_id), "
    f"{_CHURN_TAIL_SQL}",
)
def er_forget_audit_q(spark, sf_dir):
    from .operators import entity_ids
    from .operators.clustering import cluster_nodes

    canon, _, _ = _er_frames(spark, sf_dir)
    prev = er_clusters(spark, sf_dir).select(
        "doc_id", F.col("cluster_id").alias("entity_id")
    )

    def build_cur():
        m = er_matches(spark, sf_dir).where(
            (F.col("doc_id_a") % 37 != 0) & (F.col("doc_id_b") % 37 != 0)
        )
        return cluster_nodes(canon.where(F.col("doc_id") % 37 != 0), m)

    cur = _cached(spark, sf_dir, "er_forget_assign", build_cur)
    return entity_ids.cluster_churn(prev, cur)


# ---------------------------------------------------------------------------
# Adaptive blocking-scheme selection (operators/blocking_scheme.py):
# budgeted greedy set cover over a 4-pass key universe (pfx, srt, first
# token, length bucket). Target relation = the SHIPPED scheme's matches at
# 0.8 (scheme minimization: the cheapest pass subset that retains the
# production scheme's match coverage). Budget 4,200 comparisons excludes
# both srt (~39k at sf0.01) and tk1 (~4.2k), so the selector must ASSEMBLE
# coverage from cheaper passes across rounds — the decision this operator
# exists to make at 10^12 docs. The oracle re-runs the greedy rounds.
# ---------------------------------------------------------------------------

_UNIVERSE_KEYS_CTE = (
    _ER_SCORED_CTE
    + ", u_keys AS MATERIALIZED (SELECT doc_id, pass, block_key FROM er_keys "
    "UNION ALL SELECT doc_id, 'tk1', 'tk1:' || toks[1] FROM toksed "
    "UNION ALL SELECT doc_id, 'lnb', 'lnb:' || CAST(length(doc_text) // 16 AS VARCHAR) "
    "FROM canon WHERE doc_text <> '')"
)

# retention target: the production scheme's matches (er_scored is built
# over the pfx+srt candidate union, so this CTE chain must replace the
# bare keys chain inside the universe CTE — see the @_q wiring below)
_MATCH_TRUTH_CTE = (
    f"truth AS MATERIALIZED (SELECT doc_id_a, doc_id_b FROM er_scored WHERE {_ER_MATCH_COND})"
)

from .operators.blocking_scheme import scheme_select_sql as _scheme_sql  # noqa: E402


def _universe_keys(spark, sf_dir):
    def build():
        canon, keys, _ = _er_frames(spark, sf_dir)
        base = keys.select("doc_id", "pass", "block_key")
        tok1 = canon.select(
            "doc_id",
            F.lit("tk1").alias("pass"),
            F.concat(
                F.lit("tk1:"), F.split(F.col("doc_text"), " ").getItem(0)
            ).alias("block_key"),
        )
        lenb = canon.select(
            "doc_id",
            F.lit("lnb").alias("pass"),
            F.concat(
                F.lit("lnb:"),
                F.expr("CAST(length(doc_text) DIV 16 AS STRING)"),
            ).alias("block_key"),
        )
        return base.unionByName(tok1).unionByName(lenb)

    return _cached(spark, sf_dir, "u_keys", build)


@_q(
    "blocking_scheme_select",
    _scheme_sql(_UNIVERSE_KEYS_CTE, _MATCH_TRUTH_CTE, budget_pairs=4_200, n_rounds=4),
)
def blocking_scheme_select_q(spark, sf_dir):
    from .operators.blocking_scheme import scheme_select

    u = _universe_keys(spark, sf_dir)
    truth = er_matches(spark, sf_dir)
    return scheme_select(u, truth, budget_pairs=4_200)


# ---------------------------------------------------------------------------
# Asymmetric containment dedup: resemblance (Jaccard) misses the
# sub-document case — a doc quoting 90% of another scores low Jaccard but
# high CONTAINMENT |A∩B|/|A| (Broder 1997's second measure). Emits both
# directions above 0.8 for shingle sets; the LLM-corpus case is boilerplate
# and quote inclusion, which symmetric dedup never catches.
# ---------------------------------------------------------------------------


@_q(
    "containment_pairs",
    f"WITH {_NGRAM_SH_CTE} "
    "SELECT a.doc_id AS doc_id, b.doc_id AS other_doc_id, "
    "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS containment, "
    "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)), 6) AS jaccard "
    "FROM sh a JOIN sh b ON a.doc_id <> b.doc_id "
    "WHERE len(a.s) > 0 "
    "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8",
)
def containment_pairs_q(spark, sf_dir):
    from .operators.dedup import _shingles

    d = _docs(spark, sf_dir)
    sh = d.select("doc_id", _shingles(F.col("text")).alias("shingles"))
    a = sh.select(F.col("doc_id"), F.col("shingles").alias("sa"))
    b = sh.select(
        F.col("doc_id").alias("other_doc_id"), F.col("shingles").alias("sb")
    )
    # candidate generation reuses the LSH bucket join for scale; at sf0.01
    # the exhaustive twin IS the oracle, so mirror it exactly here with the
    # same all-pairs semantics filtered by the containment bar (the
    # LSH-bucketed variant is the production path — minhash_dedup)
    j = a.crossJoin(b).where(F.col("doc_id") != F.col("other_doc_id"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    cont = inter / F.size("sa").cast("double")
    jac = inter / F.size(F.array_union("sa", "sb")).cast("double")
    return (
        j.where(F.size("sa") > 0)
        .where(cont >= 0.8)
        .select(
            "doc_id",
            "other_doc_id",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash LSH banding planner (operators/dedup.py lsh_parameter_plan):
# the 8-row S-curve table behind banding choices at threshold 0.7. The
# textbook |t_half - t| rule marks 16x8 `chosen`; the pipeline ships 32x4
# anyway because its miss rate at the threshold is 1.5e-4 (vs 0.39 for
# 16x8) and the exact-Jaccard verify join absorbs the 0.56 noise rate —
# the recall-first trade the table makes explicit. Closed-form,
# engine-side, no corpus access.
# ---------------------------------------------------------------------------

from .operators.dedup import lsh_parameter_plan_sql as _lsh_plan_sql  # noqa: E402


@_q("lsh_param_plan", _lsh_plan_sql(128, 0.7, 0.4))
def lsh_param_plan_q(spark, sf_dir):
    from .operators.dedup import lsh_parameter_plan

    return lsh_parameter_plan(spark, 128, 0.7, 0.4)


# ---------------------------------------------------------------------------
# Tokenizer fertility by language: encode the corpus with the 6 learned
# BPE merges and report avg subword tokens per word per language — the
# standard tokenizer-equity diagnostic (high fertility = that language
# pays more sequence length per word). The oracle re-learns the merges
# AND re-encodes every word through the same fold.
# ---------------------------------------------------------------------------

from .operators.bpe import bpe_ctes as _bpe_ctes  # noqa: E402


@_q(
    "bpe_fertility",
    "WITH " + _bpe_ctes(6) + ", "
    "lw AS (SELECT lang, t.word, count(*) AS freq FROM "
    "(SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word FROM documents) t "
    "GROUP BY lang, t.word) "
    "SELECT lang, CAST(sum(lw.freq) AS BIGINT) AS n_words, "
    "round(CAST(sum(lw.freq * (len(v.sym) - 1)) AS DOUBLE) / CAST(sum(lw.freq) AS DOUBLE), 6) AS fertility "
    "FROM lw JOIN v6 v ON lw.word = v.word GROUP BY lang",
)
def bpe_fertility_q(spark, sf_dir):
    from .operators.bpe import bpe_encode, bpe_train

    d = _docs(spark, sf_dir)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train(d, n_merges=6).orderBy("merge_rank").collect()
    ]
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    lw = (
        d.select("lang", F.explode(toks).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("freq"))
    )
    enc = bpe_encode(lw, "word", merges)
    return enc.groupBy("lang").agg(
        F.sum("freq").alias("n_words"),
        F.round(
            F.sum(F.col("freq") * (F.size("bpe_tokens") - 1)).cast("double")
            / F.sum("freq").cast("double"),
            6,
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Entity timeline (operators/entity_ids.py entity_timeline): SCD2
# membership history across three runs — run 1 = even-doc corpus @0.8,
# run 2 = full corpus @0.8 (ids inherited from run 1), run 3 = full
# corpus @0.85 (ids inherited from run 2). The answer to "what entity was
# doc X part of, when, under which id" that a governed ER deployment must
# produce. The oracle replays all three closures, BOTH mutual-best
# inheritance rounds, and the island windows.
# ---------------------------------------------------------------------------


def _inherit_sql(tag: str, prev_rel: str, cur_rel: str, out_rel: str) -> str:
    """Mutual-best id carry-forward as SQL CTEs (the persistent_entity_ids
    pattern, reused per run transition)."""
    return (
        f"ov{tag} AS (SELECT p.entity_id, c.cluster_id, count(*) AS n "
        f"  FROM {prev_rel} p JOIN {cur_rel} c USING (doc_id) GROUP BY p.entity_id, c.cluster_id), "
        f"nom{tag} AS (SELECT entity_id, cluster_id, n, "
        f"  row_number() OVER (PARTITION BY entity_id ORDER BY n DESC, cluster_id) AS rk FROM ov{tag}), "
        f"inh{tag} AS (SELECT cluster_id, entity_id FROM ("
        f"  SELECT cluster_id, entity_id, row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, entity_id) AS rk2 "
        f"  FROM nom{tag} WHERE rk = 1) WHERE rk2 = 1), "
        f"{out_rel} AS MATERIALIZED (SELECT c.doc_id, coalesce(i.entity_id, c.cluster_id) AS entity_id "
        f"FROM {cur_rel} c LEFT JOIN inh{tag} i USING (cluster_id))"
    )


_TIMELINE_SQL = (
    f"WITH RECURSIVE {_ER_SCORED_CTE}, "
    # edges at both thresholds
    f"te8 AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_MATCH_COND}), "
    f"te85 AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM er_scored WHERE {_ER_STRICT_COND}), "
    # run 1: even docs @0.8 (entity ids minted as min member)
    "tpe AS (SELECT u, v FROM te8 WHERE u % 2 = 0 AND v % 2 = 0), "
    "tps AS (SELECT u, v FROM tpe UNION SELECT v, u FROM tpe), "
    "tpr(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' AND doc_id % 2 = 0 "
    "  UNION SELECT r.a, s.v FROM tpr r JOIN tps s ON r.b = s.u), "
    "t_r1 AS MATERIALIZED (SELECT a AS doc_id, min(b) AS entity_id FROM tpr GROUP BY a), "
    # run 2 raw: full @0.8
    "tqs AS (SELECT u, v FROM te8 UNION SELECT v, u FROM te8), "
    "tqr(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM tqr r JOIN tqs s ON r.b = s.u), "
    "t_q AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM tqr GROUP BY a), "
    # run 3 raw: full @0.85
    "tcs AS (SELECT u, v FROM te85 UNION SELECT v, u FROM te85), "
    "tcr(a, b) AS (SELECT doc_id, doc_id FROM canon WHERE doc_text <> '' "
    "  UNION SELECT r.a, s.v FROM tcr r JOIN tcs s ON r.b = s.u), "
    "t_c AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster_id FROM tcr GROUP BY a), "
    + _inherit_sql("A", "t_r1", "t_q", "t_r2")
    + ", "
    + _inherit_sql("B", "t_r2", "t_c", "t_r3")
    + ", "
    "hist AS (SELECT doc_id, entity_id, 1 AS run_id FROM t_r1 "
    "  UNION ALL SELECT doc_id, entity_id, 2 FROM t_r2 "
    "  UNION ALL SELECT doc_id, entity_id, 3 FROM t_r3), "
    "fl AS (SELECT doc_id, entity_id, run_id, "
    "  CASE WHEN lag(entity_id) OVER w IS NULL OR lag(entity_id) OVER w <> entity_id "
    "    OR lag(run_id) OVER w <> run_id - 1 THEN 1 ELSE 0 END AS ni "
    "  FROM hist WINDOW w AS (PARTITION BY doc_id ORDER BY run_id)), "
    "il AS (SELECT doc_id, entity_id, run_id, "
    "  CAST(sum(ni) OVER (PARTITION BY doc_id ORDER BY run_id) AS BIGINT) AS island FROM fl) "
    # open spans (alive at the latest run) use -1 instead of NULL: a NULL
    # in an integer column coerces the driver's pandas .df() column to
    # float64 ("2.0" vs Spark "2" — the r5 type-path class); run ids are
    # >= 1 so -1 is collision-free. Mirrored on the Spark side.
    "SELECT doc_id, min(entity_id) AS entity_id, min(run_id) AS run_from, "
    "CASE WHEN max(run_id) = 3 THEN -1 ELSE max(run_id) END AS run_to "
    "FROM il GROUP BY doc_id, island"
)


@_q("er_entity_timeline", _TIMELINE_SQL)
def er_entity_timeline_q(spark, sf_dir):
    from .operators import entity_ids

    r1, a85 = _er_prev_cur(spark, sf_dir)  # even@0.8 entities, full@0.85 raw
    a8 = er_clusters(spark, sf_dir)

    def build_r2():
        return entity_ids.persistent_entity_ids(r1, a8).select(
            "doc_id", "entity_id"
        )

    r2 = _cached(spark, sf_dir, "er_timeline_r2", build_r2)

    def build_r3():
        return entity_ids.persistent_entity_ids(
            r2, a85.select("doc_id", "cluster_id")
        ).select("doc_id", "entity_id")

    r3 = _cached(spark, sf_dir, "er_timeline_r3", build_r3)
    tl = entity_ids.entity_timeline(
        [(1, r1.select("doc_id", "entity_id")), (2, r2), (3, r3)]
    )
    # -1 sentinel for open spans, mirroring the oracle (SQL note above)
    return tl.withColumn(
        "run_to", F.coalesce("run_to", F.lit(-1)).cast("int")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (operators/ann.py hard_negative_topk): per query
# vector, the top-5 most-similar vectors with a DIFFERENT label — the
# contrastive-training negatives a retrieval-model pipeline mines from its
# corpus. Exact baseline here; at scale the same filter composes with the
# LSH/IVF candidate paths.
# ---------------------------------------------------------------------------


@_q(
    "hard_negatives",
    "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS query_label "
    "  FROM embeddings WHERE vec_id % 50 = 0), "
    "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
    "  round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS cos, "
    "  q.query_label, e.label AS neighbor_label "
    "  FROM q CROSS JOIN embeddings e WHERE e.label <> q.query_label), "
    "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s) "
    "SELECT query_id, neighbor_id, cos, query_label, neighbor_label FROM r WHERE rn <= 5",
)
def hard_negatives_q(spark, sf_dir):
    from .operators.ann import hard_negative_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 50 == 0)
    return hard_negative_topk(qs, emb, k=5)


# ---------------------------------------------------------------------------
# Entity-centric export: one row per resolved entity with member roster and
# the elected representative text — the nested "switchover" export a
# consumer of the reference's flat CSV matchAndExport would read from this
# engine instead (SURVEY.md S6/J1 generalized from row-centric to
# entity-centric). Roster is a sorted joined string so the value-hash is
# order-insensitive by construction.
# ---------------------------------------------------------------------------


@_q(
    "export_entities",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    "j AS (SELECT cl.cluster_id AS entity_id, cl.doc_id, c.doc_text "
    "  FROM clusters cl JOIN canon c USING (doc_id)), "
    "rk AS (SELECT *, row_number() OVER (PARTITION BY entity_id "
    "  ORDER BY length(doc_text) DESC, doc_id ASC) AS rn FROM j) "
    "SELECT j.entity_id, count(*) AS n_members, "
    "array_to_string(list_sort(list(CAST(j.doc_id AS VARCHAR))), '|') AS member_ids, "
    "min(CASE WHEN rk.rn = 1 THEN rk.doc_text END) AS rep_text "
    "FROM j JOIN rk ON j.entity_id = rk.entity_id AND j.doc_id = rk.doc_id "
    "GROUP BY j.entity_id",
)
def export_entities_q(spark, sf_dir):
    canon, _, _ = _er_frames(spark, sf_dir)
    cl = er_clusters(spark, sf_dir).select(
        F.col("cluster_id").alias("entity_id"), "doc_id"
    )
    j = cl.join(canon.select("doc_id", "doc_text"), "doc_id")
    w = Window.partitionBy("entity_id").orderBy(
        F.length("doc_text").desc(), F.col("doc_id").asc()
    )
    rk = j.withColumn("rn", F.row_number().over(w))
    return rk.groupBy("entity_id").agg(
        F.count("*").alias("n_members"),
        F.array_join(
            F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), "|"
        ).alias("member_ids"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_text"))).alias("rep_text"),
    )


# ---------------------------------------------------------------------------
# Corpus funnel — the end-to-end training-data pipeline as ONE auditable
# report: raw -> exact dedup (bag-of-words fingerprint, keep min id) ->
# near dedup (trigram-Jaccard clusters, keep min surviving id) -> quality
# filter (>=20 tokens, distinct-token ratio >= 0.4) -> benchmark
# decontamination (drop the %37 benchmark docs and anything sharing a
# trigram with them) -> leakage-safe train/val/test split by near-dup
# cluster key. Per-stage surviving-doc counts: the one table a data lead
# reads before a training run. Spark composes the shipped operators
# (fingerprint, minhash_dedup+CC, decontaminate flag_only, cluster_split);
# the oracle recomputes every stage in SQL (near-dup via the exhaustive
# closure — equality holds because LSH recall is 1.0 here, same contract
# as ngram_dup_pairs).
# ---------------------------------------------------------------------------

_FUNNEL_SQL = (
    f"WITH RECURSIVE {_NGRAM_SH_CTE}, "
    f"fp AS (SELECT doc_id, {_FPRINT_SQL} AS f FROM documents), "
    "s2 AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f), "
    "fe AS MATERIALIZED (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7), "
    "fsym AS (SELECT u, v FROM fe UNION SELECT v, u FROM fe), "
    "freach(a, b) AS (SELECT DISTINCT u, u FROM fsym "
    "  UNION SELECT r.a, s.v FROM freach r JOIN fsym s ON r.b = s.u), "
    "clx AS (SELECT a AS doc_id, min(b) AS cid FROM freach GROUP BY a), "
    "cl AS MATERIALIZED (SELECT d.doc_id, coalesce(clx.cid, d.doc_id) AS cluster_id "
    "  FROM documents d LEFT JOIN clx USING (doc_id)), "
    "s3 AS MATERIALIZED (SELECT min(s2.doc_id) AS doc_id, cl.cluster_id "
    "  FROM s2 JOIN cl USING (doc_id) GROUP BY cl.cluster_id), "
    "q AS (SELECT doc_id FROM t WHERE len(toks) >= 20 "
    "  AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.4), "
    "s4 AS MATERIALIZED (SELECT s3.doc_id, s3.cluster_id FROM s3 JOIN q USING (doc_id)), "
    "bg AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 37 = 0), "
    "cont AS (SELECT DISTINCT c.doc_id FROM "
    "  (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 37 <> 0) c "
    "  JOIN bg USING (gram)), "
    "s5 AS MATERIALIZED (SELECT s4.doc_id, s4.cluster_id FROM s4 "
    "  WHERE s4.doc_id % 37 <> 0 AND s4.doc_id NOT IN (SELECT doc_id FROM cont)), "
    "spl AS (SELECT doc_id, CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' "
    "  ELSE 'test' END AS split FROM "
    f"  (SELECT doc_id, {_lehmer_sql('cluster_id')} AS u FROM s5)) "
    "SELECT 1 AS stage_no, 'raw' AS stage, count(*) AS n_docs FROM documents "
    "UNION ALL SELECT 2, 'exact_dedup', count(*) FROM s2 "
    "UNION ALL SELECT 3, 'near_dedup', count(*) FROM s3 "
    "UNION ALL SELECT 4, 'quality', count(*) FROM s4 "
    "UNION ALL SELECT 5, 'decontam', count(*) FROM s5 "
    "UNION ALL SELECT 6, 'train', count(*) FROM spl WHERE split = 'train' "
    "UNION ALL SELECT 7, 'val', count(*) FROM spl WHERE split = 'val' "
    "UNION ALL SELECT 8, 'test', count(*) FROM spl WHERE split = 'test'"
)


@_q("corpus_funnel", _FUNNEL_SQL)
def corpus_funnel_q(spark, sf_dir):
    from .operators import decontam, dedup
    from .operators.clustering import cluster_nodes
    from .operators.sampling import cluster_split

    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    fp = d.select("doc_id", TS.fingerprint(F.col("text")).alias("f"))
    s2 = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    pairs = dedup.minhash_dedup(d, "doc_id", "text", threshold=0.7)
    cl = cluster_nodes(d, pairs.select("doc_id_a", "doc_id_b"))
    s3 = (
        s2.join(cl, "doc_id")
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "cluster_id")
    )
    q = (
        d.select("doc_id", toks.alias("tk"))
        .where(
            (F.size("tk") >= 20)
            & (
                F.size(F.array_distinct("tk")).cast("double")
                / F.size("tk").cast("double")
                >= 0.4
            )
        )
        .select("doc_id")
    )
    s4 = s3.join(q, "doc_id").select("doc_id", "cluster_id")
    bench = d.where(F.col("doc_id") % 37 == 0)
    cont = decontam.decontaminate(
        d.where(F.col("doc_id") % 37 != 0), bench, n=3, flag_only=True
    )
    s5 = (
        s4.where(F.col("doc_id") % 37 != 0)
        .join(cont, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    spl = cluster_split(s5)
    split_counts = {
        r["split"]: r["n"]
        for r in spl.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    rows = [
        (1, "raw", d.count()),
        (2, "exact_dedup", s2.count()),
        (3, "near_dedup", s3.count()),
        (4, "quality", s4.count()),
        (5, "decontam", s5.count()),
        (6, "train", split_counts.get("train", 0)),
        (7, "val", split_counts.get("val", 0)),
        (8, "test", split_counts.get("test", 0)),
    ]
    return spark.createDataFrame(rows, "stage_no int, stage string, n_docs long")


# ---------------------------------------------------------------------------
# Unlinkables analysis (Splink's unlinkables chart as data): per document,
# the best candidate-pair score it participates in; histogram by 5-pct
# band with band -5 = docs with NO candidate pair at all. The population
# that can never link at the current blocking+threshold — the first thing
# to check when recall looks low.
# ---------------------------------------------------------------------------


@_q(
    "er_unlinkables",
    f"WITH {_ER_SCORED_CTE}, "
    "both_sides AS (SELECT doc_id_a AS doc_id, 0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard AS score FROM er_scored "
    "  UNION ALL SELECT doc_id_b, 0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard FROM er_scored), "
    "best AS (SELECT doc_id, max(score) AS best_score FROM both_sides GROUP BY doc_id), "
    "per_doc AS (SELECT c.doc_id, "
    "  CASE WHEN b.best_score IS NULL THEN -5 "
    "  ELSE CAST(floor(b.best_score * 20.0) * 5 AS INT) END AS band_pct, "
    "  CASE WHEN b.best_score IS NULL OR b.best_score < 0.8 THEN 1 ELSE 0 END AS unl "
    "  FROM canon c LEFT JOIN best b USING (doc_id) WHERE c.doc_text <> '') "
    "SELECT band_pct, count(*) AS n_docs, CAST(sum(unl) AS BIGINT) AS n_unlinkable "
    "FROM per_doc GROUP BY band_pct",
)
def er_unlinkables_q(spark, sf_dir):
    canon, _, _ = _er_frames(spark, sf_dir)
    s = _er_scored_frame(spark, sf_dir)
    score = (
        _er_score()
    ).alias("score")
    both = s.select(F.col("doc_id_a").alias("doc_id"), score).unionByName(
        s.select(F.col("doc_id_b").alias("doc_id"), score)
    )
    best = both.groupBy("doc_id").agg(F.max("score").alias("best_score"))
    per_doc = canon.select("doc_id").join(best, "doc_id", "left").select(
        F.when(F.col("best_score").isNull(), F.lit(-5))
        .otherwise((F.floor(F.col("best_score") * 20.0) * 5).cast("int"))
        .alias("band_pct"),
        F.when(
            F.col("best_score").isNull() | (F.col("best_score") < 0.8), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("unl"),
    )
    return per_doc.groupBy("band_pct").agg(
        F.count("*").alias("n_docs"), F.sum("unl").alias("n_unlinkable")
    )


# ---------------------------------------------------------------------------
# Perceptual image hash (operators/multimodal.py image_ahash): 8x8
# average-hash over REAL decoded BMP pixels — image near-dup dedup joins
# the text near-dup stack (bucket on hash pieces at scale, exactly like
# simhash). The oracle recomputes every bit from the generative pixel
# formula without touching bytes, so a match certifies the decoder AND the
# downsample/threshold math.
# ---------------------------------------------------------------------------


@_q(
    "image_phash",
    f"WITH {_MEDIA_REFS_CTE}, "
    f"sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'image')), "
    "pr AS (SELECT media_ref, seed, 4 + seed % 12 AS w, 4 + (seed // 16) % 12 AS h FROM sd), "
    "lm AS (SELECT media_ref, w, h, list_transform(range(0, w * h), "
    "  p -> (((seed // 11 + 7 * p) % 256) * 299 + ((seed // 7 + 5 * p) % 256) * 587 "
    "      + ((seed + 3 * p) % 256) * 114) // 1000) AS lum FROM pr), "
    "sm AS (SELECT media_ref, list_transform(range(0, 64), "
    "  k -> lum[CAST(((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1 AS INT)]) AS s FROM lm) "
    "SELECT media_ref, array_to_string(list_transform(s, "
    "  x -> CASE WHEN 64 * x >= list_sum(s) THEN '1' ELSE '0' END), '') AS ahash "
    "FROM sm",
)
def image_phash_q(spark, sf_dir):
    from .operators.multimodal import image_ahash

    m = _real_media(spark, sf_dir).where(F.col("kind") == "image")
    return image_ahash(m, strict=True)


# Cross-container image dedup (r5): the SAME image stored twice — once
# as uncompressed BMP, once as LZW GIF — must land in the same dup
# bucket. Both payloads are really decoded (different codecs!) before
# hashing, so a hash-equality pair per base ref certifies that the
# perceptual hash is container-invariant END TO END — the real-world
# "one photo saved in two formats" dedup a multimodal corpus needs. The
# oracle computes each base ref's ahash once from the generative pixel
# formula and expands to both suffixed container rows; any coincidental
# cross-ref collisions are reproduced identically (same bit math).
_XFMT_AHASH_CTE = (
    f"{_MEDIA_REFS_CTE}, "
    f"xf_sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'image')), "
    "xf_pr AS (SELECT media_ref, seed, 4 + seed % 12 AS w, 4 + (seed // 16) % 12 AS h FROM xf_sd), "
    "xf_lm AS (SELECT media_ref, w, h, list_transform(range(0, w * h), "
    "  p -> (((seed // 11 + 7 * p) % 256) * 299 + ((seed // 7 + 5 * p) % 256) * 587 "
    "      + ((seed + 3 * p) % 256) * 114) // 1000) AS lum FROM xf_pr), "
    "xf_sm AS (SELECT media_ref, list_transform(range(0, 64), "
    "  k -> lum[CAST(((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1 AS INT)]) AS s FROM xf_lm), "
    "xf_ah AS (SELECT media_ref, array_to_string(list_transform(s, "
    "  x -> CASE WHEN 64 * x >= list_sum(s) THEN '1' ELSE '0' END), '') AS ahash FROM xf_sm), "
    "xf_both AS (SELECT media_ref || '#bmp' AS mr, ahash FROM xf_ah "
    "  UNION ALL SELECT media_ref || '#gif', ahash FROM xf_ah)"
)


@_q(
    "media_cross_format_dup",
    f"WITH {_XFMT_AHASH_CTE} "
    "SELECT a.mr AS ref_a, b.mr AS ref_b, a.ahash AS ahash "
    "FROM xf_both a JOIN xf_both b ON a.ahash = b.ahash AND a.mr < b.mr",
)
def media_cross_format_dup_q(spark, sf_dir):
    from .operators.multimodal import image_ahash, synth_real_media_table

    media = _media(spark, sf_dir)
    bmp = (
        synth_real_media_table(media, image_format="bmp")
        .where(F.col("kind") == "image")
        .withColumn("media_ref", F.concat("media_ref", F.lit("#bmp")))
    )
    gif = (
        synth_real_media_table(media, image_format="gif")
        .where(F.col("kind") == "image")
        .withColumn("media_ref", F.concat("media_ref", F.lit("#gif")))
    )
    h = image_ahash(bmp.unionByName(gif), strict=True).select("media_ref", "ahash")
    a = h.select(F.col("media_ref").alias("ref_a"), "ahash")
    b = h.select(F.col("media_ref").alias("ref_b"), F.col("ahash").alias("ahash_b"))
    return (
        a.join(b, a["ahash"] == b["ahash_b"])
        .where(F.col("ref_a") < F.col("ref_b"))
        .select("ref_a", "ref_b", "ahash")
    )


# ---------------------------------------------------------------------------
# Audio fingerprint (operators/multimodal.py audio_fingerprint): 32-band
# energy-envelope signature over REAL decoded PCM — the audio member of
# the near-dup signature family (text simhash / image ahash / audio fp).
# Oracle recomputes every bit from the generative sample formula.
# ---------------------------------------------------------------------------


@_q(
    "audio_fingerprint",
    f"WITH {_MEDIA_REFS_CTE}, "
    f"sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'audio')), "
    "pr AS (SELECT media_ref, seed, 64 + seed % 192 AS n FROM sd), "
    "sm AS (SELECT media_ref, n, list_transform(range(0, n), "
    "  i -> ((seed + i * 48271) % 65536) - 32768) AS s FROM pr), "
    "en AS (SELECT media_ref, list_transform(range(0, 32), "
    "  k -> list_sum(list_transform(range(k * n // 32, (k + 1) * n // 32), "
    "    i -> CAST(s[CAST(i + 1 AS INT)] AS BIGINT) * s[CAST(i + 1 AS INT)]))) AS e FROM sm) "
    "SELECT media_ref, array_to_string(list_transform(e, "
    "  x -> CASE WHEN 32 * x >= list_sum(e) THEN '1' ELSE '0' END), '') AS audio_fp "
    "FROM en",
)
def audio_fingerprint_q(spark, sf_dir):
    from .operators.multimodal import audio_fingerprint

    m = _real_media(spark, sf_dir).where(F.col("kind") == "audio")
    return audio_fingerprint(m, strict=True)


# Cross-container audio dedup (r5, the audio twin of
# media_cross_format_dup): the SAME recording stored as little-endian
# RIFF/WAVE and big-endian FORM/AIFF — two genuinely different parsers —
# must fingerprint identically and pair by exact equality.
_XFMT_AFP_CTE = (
    f"{_MEDIA_REFS_CTE}, "
    f"xa_sd AS (SELECT media_ref, {_WAV_SEED} AS seed "
    "  FROM (SELECT media_ref, sha256(media_ref) AS hh FROM refs WHERE kind = 'audio')), "
    "xa_pr AS (SELECT media_ref, seed, 64 + seed % 192 AS n FROM xa_sd), "
    "xa_sm AS (SELECT media_ref, n, list_transform(range(0, n), "
    "  i -> ((seed + i * 48271) % 65536) - 32768) AS s FROM xa_pr), "
    "xa_en AS (SELECT media_ref, list_transform(range(0, 32), "
    "  k -> list_sum(list_transform(range(k * n // 32, (k + 1) * n // 32), "
    "    i -> CAST(s[CAST(i + 1 AS INT)] AS BIGINT) * s[CAST(i + 1 AS INT)]))) AS e FROM xa_sm), "
    "xa_fp AS (SELECT media_ref, array_to_string(list_transform(e, "
    "  x -> CASE WHEN 32 * x >= list_sum(e) THEN '1' ELSE '0' END), '') AS audio_fp FROM xa_en), "
    "xa_both AS (SELECT media_ref || '#wav' AS mr, audio_fp FROM xa_fp "
    "  UNION ALL SELECT media_ref || '#aiff', audio_fp FROM xa_fp)"
)


@_q(
    "media_cross_format_audio_dup",
    f"WITH {_XFMT_AFP_CTE} "
    "SELECT a.mr AS ref_a, b.mr AS ref_b, a.audio_fp AS audio_fp "
    "FROM xa_both a JOIN xa_both b ON a.audio_fp = b.audio_fp AND a.mr < b.mr",
)
def media_cross_format_audio_dup_q(spark, sf_dir):
    from .operators.multimodal import audio_fingerprint, synth_real_media_table

    media = _media(spark, sf_dir)
    wav = (
        synth_real_media_table(media, audio_format="wav")
        .where(F.col("kind") == "audio")
        .withColumn("media_ref", F.concat("media_ref", F.lit("#wav")))
    )
    aiff = (
        synth_real_media_table(media, audio_format="aiff")
        .where(F.col("kind") == "audio")
        .withColumn("media_ref", F.concat("media_ref", F.lit("#aiff")))
    )
    h = audio_fingerprint(wav.unionByName(aiff), strict=True).select(
        "media_ref", "audio_fp"
    )
    a = h.select(F.col("media_ref").alias("ref_a"), "audio_fp")
    b = h.select(F.col("media_ref").alias("ref_b"), F.col("audio_fp").alias("fp_b"))
    return (
        a.join(b, a["audio_fp"] == b["fp_b"])
        .where(F.col("ref_a") < F.col("ref_b"))
        .select("ref_a", "ref_b", "audio_fp")
    )


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al., NeurIPS 2023; operators/dsir.py): score
# every raw document by the hashed-n-gram likelihood ratio against a target
# corpus (here: the 'en' slice), then draw a deterministic Gumbel top-k
# resample. The raw-side scan is broadcast-joined against two <= B-row
# models — the 100 TB shape. Oracle replays the Horner bucket hashing, the
# exact int64 probability ratios, and the Lehmer-Gumbel keys end to end.
# ---------------------------------------------------------------------------

from .operators import dsir as _dsir

_DSIR_CTES = _dsir.dsir_sql_ctes(
    "documents", "(SELECT * FROM documents WHERE lang = 'en')", buckets=4096
)


@_q(
    "dsir_weights",
    f"WITH {_DSIR_CTES} SELECT doc_id, n_features, log_weight FROM dsir_w",
)
def dsir_weights_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return _dsir.dsir_log_weights(d, d.where(F.col("lang") == "en"), buckets=4096)


@_q(
    "dsir_topk",
    f"WITH {_DSIR_CTES} " + _dsir.gumbel_topk_sql("dsir_w", 100),
)
def dsir_topk_q(spark, sf_dir):
    d = _docs(spark, sf_dir)
    w = _dsir.dsir_log_weights(d, d.where(F.col("lang") == "en"), buckets=4096)
    return _dsir.gumbel_topk(w, 100)


# ---------------------------------------------------------------------------
# Score calibration (operators/calibration.py): reliability bins of the ER
# pair score against the independent n-gram-Jaccard truth, plus the EXACT
# weighted isotonic fit (minimax segment formula — pure joins over the
# <= 20-row bin frame, no driver-side PAV scan). The downstream consumer
# is threshold picking / review-queue sizing with calibrated
# P(match | score) instead of raw similarity.
# ---------------------------------------------------------------------------

from .operators import calibration as _calib

_CAL_LAB_CTES = (
    f"{_ER_SCORED_CTE}, {_NGRAM_SH_CTE}, "
    "cal_scored AS (SELECT doc_id_a, doc_id_b, "
    "  0.4*jw + 0.2*lev_ratio + 0.4*tok_jaccard AS score FROM er_scored), "
    "cal_truth AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b "
    "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.7), "
    "cal_lab AS (SELECT s.score, CASE WHEN t.doc_id_a IS NOT NULL THEN 1 ELSE 0 END AS is_match "
    "  FROM cal_scored s LEFT JOIN cal_truth t "
    "  ON s.doc_id_a = t.doc_id_a AND s.doc_id_b = t.doc_id_b)"
)


def _er_calibration_pairs(spark, sf_dir):
    s = _er_scored_frame(spark, sf_dir)
    scored = s.select(
        "doc_id_a",
        "doc_id_b",
        (
            _er_score()
        ).alias("score"),
    )
    truth = ngram_dup_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("_t")
    )
    return scored.join(truth, ["doc_id_a", "doc_id_b"], "left").select(
        "score", F.when(F.col("_t").isNotNull(), 1).otherwise(0).alias("is_match")
    )


@_q(
    "er_calibration",
    f"WITH {_CAL_LAB_CTES}, "
    + _calib.calibration_sql_ctes("cal_lab", "score", "is_match", 20)
    + " SELECT * FROM cal_out",
)
def er_calibration_q(spark, sf_dir):
    return _calib.isotonic_calibration(
        _er_calibration_pairs(spark, sf_dir), n_bins=20
    )


@_q(
    "er_calibration_brier",
    f"WITH {_CAL_LAB_CTES}, "
    + _calib.calibration_sql_ctes("cal_lab", "score", "is_match", 20)
    + ", cal_j AS (SELECT l.score, CAST(l.is_match AS DOUBLE) AS y, f.iso_precision "
    "  FROM (SELECT score, is_match, least(CAST(floor(score * 20) AS INT), 19) AS bin "
    "        FROM cal_lab) l JOIN cal_out f USING (bin)) "
    "SELECT count(*) AS n_pairs, "
    "round(avg((score - y) * (score - y)), 6) AS brier_raw, "
    "round(avg((iso_precision - y) * (iso_precision - y)), 6) AS brier_iso "
    "FROM cal_j",
)
def er_calibration_brier_q(spark, sf_dir):
    pairs = _er_calibration_pairs(spark, sf_dir)
    cal = _calib.isotonic_calibration(pairs, n_bins=20)
    return _calib.brier_scores(pairs, cal, n_bins=20)


# ---------------------------------------------------------------------------
# Span-sequence alignment (operators/span_align.py): matched ER pairs
# explained at span granularity over the interleaved text+media payload —
# multiset span overlap, ordered prefix agreement, media-subsequence
# equality. The oracle re-derives each doc's ordered span-key sequence
# from the flat text (chunking + content-keyed media spans, the
# derive_spans twin) and replays the array folds.
# ---------------------------------------------------------------------------

_SA_SEQ_CTE = (
    "sa_t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks FROM documents), "
    "sa_k AS (SELECT doc_id, toks, sha256(list_aggregate(list_sort(list_distinct(list_transform(toks, x -> lower(x)))), 'string_agg', ' ')) AS key FROM sa_t), "
    "sa_seq AS (SELECT doc_id, list_concat("
    "  list_transform(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1)), "
    "    i -> 'text:' || coalesce(list_aggregate(toks[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)], 'string_agg', ' '), '')), "
    f"  CASE WHEN {_hexv_sql('substr(key, 1, 1)')} % 3 > 0 THEN "
    f"    list_transform(range({_hexv_sql('substr(key, 1, 1)')} % 3), "
    f"      j -> (CASE ({_hexv_sql('substr(key, CAST(j + 2 AS INT), 1)')} % 3) "
    "        WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END) "
    "        || ':m:' || substr(key, 1, 16) || '-' || CAST(j AS VARCHAR)) "
    "  ELSE [] END) AS k FROM sa_k)"
)


@_q(
    "er_span_alignment",
    f"WITH {_ER_SCORED_CTE}, {_SA_SEQ_CTE}, "
    f"sa_m AS (SELECT doc_id_a, doc_id_b FROM er_scored WHERE {_ER_MATCH_COND}), "
    "sa_j AS (SELECT m.doc_id_a, m.doc_id_b, a.k AS ka, b.k AS kb "
    "  FROM sa_m m JOIN sa_seq a ON m.doc_id_a = a.doc_id "
    "  JOIN sa_seq b ON m.doc_id_b = b.doc_id), "
    "sa_ov AS (SELECT doc_id_a, doc_id_b, ka, kb, "
    "  CAST(coalesce(list_sum(list_transform(list_distinct(ka), "
    "    kk -> least(len(list_filter(ka, x -> x = kk)), len(list_filter(kb, x -> x = kk))))), 0) AS BIGINT) AS n_common "
    "  FROM sa_j) "
    "SELECT doc_id_a, doc_id_b, len(ka) AS n_spans_a, len(kb) AS n_spans_b, n_common, "
    "round(CAST(n_common AS DOUBLE) / (len(ka) + len(kb) - n_common), 6) AS span_jaccard, "
    "CAST(coalesce(list_sum(list_transform(range(1, least(len(ka), len(kb)) + 1), "
    "  i -> CASE WHEN ka[1:CAST(i AS INT)] = kb[1:CAST(i AS INT)] THEN 1 ELSE 0 END)), 0) AS BIGINT) AS prefix_len, "
    "list_filter(ka, x -> x NOT LIKE 'text:%') = list_filter(kb, x -> x NOT LIKE 'text:%') AS media_seq_equal "
    "FROM sa_ov",
)
def er_span_alignment_q(spark, sf_dir):
    from .operators import span_align as _sa
    from .sources.spans import derive_spans as _derive

    pairs = er_matches(spark, sf_dir).select("doc_id_a", "doc_id_b")
    spans = _derive(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "spans"
    )
    return _sa.pair_span_alignment(pairs, spans)


# ---------------------------------------------------------------------------
# Null-aware Fellegi–Sunter (operators/fellegi_sunter.py NULL_LEVEL): a
# deterministic subset of pairs has its jw feature MISSING; the null level
# is excluded from m/u normalization (missing != disagree — the Splink
# convention), so the estimates normalize over observed comparisons only.
# ---------------------------------------------------------------------------


@_q(
    "fs_null_aware_mu",
    f"WITH RECURSIVE {_ER_CLUSTERS_CTE}, "
    "nlab AS (SELECT s.doc_id_a, s.doc_id_b, "
    "  CASE WHEN (s.doc_id_a + s.doc_id_b) % 7 = 0 THEN NULL ELSE s.jw END AS jw, "
    "  (ca.cluster_id = cb.cluster_id) AS is_match "
    "  FROM er_scored s JOIN clusters ca ON s.doc_id_a = ca.doc_id "
    "  JOIN clusters cb ON s.doc_id_b = cb.doc_id), "
    "nlvl AS (SELECT is_match, CASE WHEN jw IS NULL THEN -1 "
    "  WHEN jw >= 0.95 THEN 2 WHEN jw >= 0.85 THEN 1 ELSE 0 END AS level FROM nlab), "
    "nmelt AS (SELECT is_match, 'jw' AS feature, level FROM nlvl WHERE level <> -1), "
    "ncounts AS (SELECT feature, level, "
    "  count(CASE WHEN is_match THEN 1 END) AS c_m, "
    "  count(CASE WHEN NOT is_match THEN 1 END) AS c_u FROM nmelt GROUP BY feature, level), "
    "ntotals AS (SELECT feature, sum(c_m) AS n_m, sum(c_u) AS n_u FROM ncounts GROUP BY feature), "
    "ngrid AS (SELECT t.feature, g.level, t.n_m, t.n_u, "
    "  coalesce(c.c_m, 0) AS c_m, coalesce(c.c_u, 0) AS c_u "
    "  FROM ntotals t CROSS JOIN (SELECT unnest(range(3)) AS level) g "
    "  LEFT JOIN ncounts c ON c.feature = t.feature AND c.level = g.level) "
    "SELECT feature, CAST(level AS INT) AS level, "
    "CAST(c_m + 1 AS DOUBLE) / CAST(n_m + 3 AS DOUBLE) AS m_prob, "
    "CAST(c_u + 1 AS DOUBLE) / CAST(n_u + 3 AS DOUBLE) AS u_prob, "
    "floor(log2((CAST(c_m + 1 AS DOUBLE) / CAST(n_m + 3 AS DOUBLE)) "
    "  / (CAST(c_u + 1 AS DOUBLE) / CAST(n_u + 3 AS DOUBLE))) * 1000000) / 1000000 AS weight "
    "FROM ngrid",
)
def fs_null_aware_mu_q(spark, sf_dir):
    from .operators import fellegi_sunter as FS

    scored = _er_scored_frame(spark, sf_dir)
    jwn = F.when(
        (F.col("doc_id_a") + F.col("doc_id_b")) % 7 == 0, F.lit(None)
    ).otherwise(F.col("jw"))
    s2 = scored.select("doc_id_a", "doc_id_b", jwn.alias("jw"))
    levels = FS.agreement_levels(
        s2, {"jw": FS.DEFAULT_BINS["jw"]}, null_level=FS.NULL_LEVEL
    )
    cl = er_clusters(spark, sf_dir)
    ca = cl.select(F.col("doc_id").alias("doc_id_a"), F.col("cluster_id").alias("cl_a"))
    cb = cl.select(F.col("doc_id").alias("doc_id_b"), F.col("cluster_id").alias("cl_b"))
    labels = (
        s2.select("doc_id_a", "doc_id_b")
        .join(ca, "doc_id_a")
        .join(cb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (F.col("cl_a") == F.col("cl_b")).alias("is_match"),
        )
    )
    return FS.estimate_mu_supervised(
        levels, labels, ["jw"], n_levels=3, exclude_level=FS.NULL_LEVEL
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023; operators/semdedup.py): semantic dedup in
# embedding space — deterministic centroids (every 50th vector, the IVF
# stand-in), map-side cell assignment, within-cell cosine pairs, duplicate
# groups via connected components, survivor = farthest-from-centroid.
# Near-dups planted as x1.001-rescaled copies (the embedding_near_dup
# fixture trick). Oracle replays assignment, pairs, the recursive
# closure, and the survivor window.
# ---------------------------------------------------------------------------


@_q(
    "semdedup_keep",
    "WITH RECURSIVE "
    "sdraw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings "
    "  UNION ALL SELECT vec_id + 1000000, "
    "    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001) "
    "  FROM embeddings WHERE vec_id % 10 = 0), "
    "sdc AS (SELECT vec_id AS centroid_id, v AS cv FROM sdraw WHERE vec_id % 50 = 1), "
    "sda AS MATERIALIZED (SELECT vec_id, v, cell, cos_c FROM ("
    "  SELECT vec_id, v, centroid_id AS cell, cs AS cos_c, "
    "    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) rn "
    "  FROM (SELECT s.vec_id, s.v, c.centroid_id, "
    "    round(list_cosine_similarity(s.v, c.cv), 6) AS cs FROM sdraw s CROSS JOIN sdc c)) "
    "  WHERE rn = 1), "
    "sde AS MATERIALIZED (SELECT a.vec_id AS u, b.vec_id AS v FROM sda a "
    "  JOIN sda b ON a.cell = b.cell AND a.vec_id < b.vec_id "
    "  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95), "
    "sdsym AS MATERIALIZED (SELECT u, v FROM sde UNION SELECT v, u FROM sde), "
    "sdreach(a, b) AS (SELECT vec_id, vec_id FROM sda "
    "  UNION SELECT r.a, s.v FROM sdreach r JOIN sdsym s ON r.b = s.u), "
    "sdgrp AS (SELECT a AS vec_id, min(b) AS group_id FROM sdreach GROUP BY a) "
    "SELECT d.vec_id, d.cell, d.cos_c, g.group_id, "
    "ROW_NUMBER() OVER (PARTITION BY g.group_id ORDER BY d.cos_c ASC, d.vec_id ASC) = 1 AS keep "
    "FROM sda d JOIN sdgrp g USING (vec_id)",
)
def semdedup_keep_q(spark, sf_dir):
    from .operators import semdedup as _sd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    aug = emb.unionByName(
        emb.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        )
    )
    cents = aug.where(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return _sd.semdedup(aug, cents, eps=0.95)
