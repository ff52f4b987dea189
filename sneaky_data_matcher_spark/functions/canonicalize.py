"""Vectorized (JVM-side) canonicalization — the match-key definition.

Column-expression re-creations of the reference's string pipeline
(utils/StringTransformer.java:11-45, services/RecordValidationUtilService.java:16-32,
services/UploadsService.java:148-163). Everything here is built from native
``pyspark.sql.functions`` so it stays inside whole-stage codegen — no Python
in the hot path. The pure-Python oracle in ``pyoracle.py`` is the source of
truth; property tests assert agreement.

Each function also has a ``*_sql`` twin that emits the equivalent DuckDB SQL
expression, used by ``__spark_entry__.oracle_sql()`` so the driver's
correctness gate compares identical semantics.

Unicode delta (documented): tokens consisting solely of exotic unicode
whitespace (e.g. U+2028) are dropped by the Java reference's ``isBlank`` but
kept here; the test alphabet excludes them. ASCII + quotes + common
whitespace — the entire match-key domain in practice — agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java String.trim() strips chars <= U+0020.
_JTRIM = r"[\x00-\x20]"
# StringTokenizer default delimiters.
_DELIMS = r"[ \t\n\r\f]"
# trimQuotes net effect on a token: strip both ends of quotes + ctrl chars.
_STRIP = "[\\x00-\\x20'\"]"


def java_trim(col: Column) -> Column:
    """Java String.trim(): strip chars <= U+0020 from both ends."""
    return F.regexp_replace(
        F.regexp_replace(col, f"^{_JTRIM}+", ""), f"{_JTRIM}+$", ""
    )


def tlc(col: Column) -> Column:
    return F.lower(col)


def tuc(col: Column) -> Column:
    return F.upper(col)


def nrm(col: Column) -> Column:
    """StringTransformer.normalize (StringTransformer.java:35-45).

    Whitespace-tokenize, strip quote/ctrl chars from token ends, drop blank
    tokens, rejoin with single spaces. Pure column expression — codegen'd.
    """
    tokens = F.split(col, f"{_DELIMS}+")
    stripped = F.transform(
        tokens,
        lambda t: F.regexp_replace(
            F.regexp_replace(t, f"^{_STRIP}+", ""), f"{_STRIP}+$", ""
        ),
    )
    return F.array_join(F.filter(stripped, lambda t: t != F.lit("")), " ")


_TRANSFORMS = {"TLC": tlc, "TUC": tuc, "TRIM": java_trim, "NRM": nrm}


def transform_chain(col: Column, transformations: list[str]) -> Column:
    """StringTransformer.transform (:11-22): null -> '', ordered chain."""
    result = F.coalesce(col, F.lit(""))
    for t in transformations:
        result = _TRANSFORMS[t.upper()](result)
    return result


def phone_rule(col: Column) -> Column:
    """Phone branch (RecordValidationUtilService.java:24-31)."""
    only = F.regexp_replace(col, r"[^0-9.]", "")
    only = F.regexp_replace(only, r"\.", "")
    return F.when(F.length(only) < 5, F.lit("")).otherwise(only)


# Shared pattern strings (pyoracle is the source of truth): structural port
# of commons-validator 1.7 EmailValidator.getInstance(true, true) — quoted
# local-parts, backslash escapes, 64-char user cap, [IPv4] literal domains,
# 253-char symbolic domains, allowLocal single-label hostnames. Deltas
# documented at pyoracle.email_is_valid (no TLD-list / IDN / IPv6-literal).
from .pyoracle import (  # noqa: E402  (pattern constants, not functions)
    EMAIL_DOMAIN_PATTERN,
    EMAIL_IP_DOMAIN_PATTERN,
    EMAIL_SPLIT_PATTERN,
    EMAIL_USER_PATTERN,
)


def _punycode_udf():
    """Arrow-batched IDNA2003 domain punycoder (NULL argument → NULL,
    O(1) — the masked-argument contract). Built lazily so module import
    stays free of pandas/Spark-session requirements; the kernel carries
    no type hints (PEP-563 string annotations don't resolve a
    function-local ``pd`` alias in pyspark's hint inspection), so the
    return type is given positionally."""
    def _map(dom):
        from .pyoracle import _idn_ascii

        return dom.map(lambda d: None if d is None else _idn_ascii(d))

    return F.pandas_udf(_map, "string")


def email_is_valid(
    col: Column, check_tld: bool = False, idn: bool = True
) -> Column:
    """``check_tld=True`` adds DomainValidator's final-label check against
    the frozen public IANA snapshot (functions/tld.py), matching
    ``EmailValidator.getInstance(true, true)`` semantics: multi-label
    domains need a known TLD; single-label hostnames pass via allowLocal;
    [IP] literals are exempt. Default stays structural (no TLD list),
    the oracle-certified mode since r1.

    ``idn`` (default True, r5 — closes the last documented delta vs
    commons): non-ASCII domains are punycoded (IDNA2003, the same
    algorithm as java.net.IDN.toASCII inside DomainValidator) before the
    structural/TLD checks, via an Arrow-batched pandas UDF whose ARGUMENT
    is NULL-masked to non-ASCII-domain rows only — the kernel does O(1)
    work per ASCII row (the r4 masking pattern; ArrowEvalPython ignores
    CASE short-circuits but a NULL argument short-circuits the kernel).
    On all-ASCII input the result is bit-identical to idn=False, so the
    DuckDB twins (which cannot punycode) stay valid oracles on the ASCII
    fixture corpus; pass idn=False for a fully native, UDF-free plan."""
    # Greedy ^(.+)@ captures up to the LAST '@' (commons EMAIL_REGEX split).
    user = F.regexp_extract(col, r"^(.+)@", 1)
    domain = F.substring_index(col, "@", -1)
    if idn:
        nonascii = domain.rlike(r"[^\x00-\x7F]")
        domain = F.coalesce(_punycode_udf()(F.when(nonascii, domain)), domain)
    # rlike is Java find(): $ matches before a FINAL \n, which Java
    # matches()/RE2 reject — guard line terminators so the three twins agree.
    no_terminators = ~col.rlike(r"[\r\n]")
    split_ok = no_terminators & col.rlike(EMAIL_SPLIT_PATTERN) & ~col.endswith(".")
    user_ok = (F.length(user) <= 64) & user.rlike(EMAIL_USER_PATTERN)
    sym_ok = (F.length(domain) <= 253) & domain.rlike(EMAIL_DOMAIN_PATTERN)
    if check_tld:
        from .tld import ALL_TLDS

        last_label = F.lower(F.substring_index(domain, ".", -1))
        # isin over the frozen list compiles to a native InSet — no UDF.
        sym_ok = sym_ok & (
            ~domain.contains(".") | last_label.isin(*sorted(ALL_TLDS))
        )
    dom_ok = (
        F.when(domain.startswith("["), domain.rlike(EMAIL_IP_DOMAIN_PATTERN))
        .otherwise(sym_ok)
    )
    return split_ok & user_ok & dom_ok


def email_rule(col: Column) -> Column:
    """Mail branch (RecordValidationUtilService.java:17-23)."""
    return F.when(email_is_valid(col), col).otherwise(F.lit(""))


def extract_and_validate(col: Column, source_col_name: str, transformations: list[str]) -> Column:
    """RecordValidationUtilService.extractAndValidate (:16-32)."""
    name_lc = source_col_name.lower()
    result = transform_chain(col, transformations)
    if "mail" in name_lc:
        return email_rule(result)
    if "phone" in name_lc:
        return phone_rule(result)
    return result


def map_and_concat(cols: list[Column], source_names: list[str], transformations: list[str]) -> Column:
    """Mapping projection P1 (UploadsService.java:148-163): validate each
    source, space-join, re-apply the chain to the concatenation."""
    parts = [extract_and_validate(c, n, transformations) for c, n in zip(cols, source_names)]
    return transform_chain(F.concat_ws(" ", *parts), transformations)


# ---------------------------------------------------------------------------
# DuckDB SQL twins — return SQL expression strings over a column expression.
# ---------------------------------------------------------------------------

def nrm_sql(expr: str) -> str:
    strip = "[\\x00-\\x20''\"]"  # duckdb escapes ' by doubling
    tok = (
        f"list_transform(string_split_regex({expr}, '[ \\t\\n\\r\\f]+'),"
        f" t -> regexp_replace(regexp_replace(t, '^{strip}+', ''), '{strip}+$', ''))"
    )
    return f"array_to_string(list_filter({tok}, t -> t <> ''), ' ')"


def phone_rule_sql(expr: str) -> str:
    only = f"regexp_replace(regexp_replace({expr}, '[^0-9.]', '', 'g'), '\\.', '', 'g')"
    return f"CASE WHEN length({only}) < 5 THEN '' ELSE {only} END"


def email_is_valid_sql(expr: str, check_tld: bool = False) -> str:
    """DuckDB twin of email_is_valid — same shared pattern strings.

    regexp_matches is partial-match (RE2 PartialMatch); every pattern is
    ^..$-anchored so semantics equal rlike/re.match here. ``check_tld``
    mirrors the Spark/pyoracle flag via the same frozen snapshot.
    """
    user = f"regexp_extract({expr}, '^(.+)@', 1)"
    dom = f"regexp_extract({expr}, '@([^@]*)$', 1)"
    split_p = EMAIL_SPLIT_PATTERN.replace("'", "''")
    user_p = EMAIL_USER_PATTERN.replace("'", "''")
    dom_p = EMAIL_DOMAIN_PATTERN.replace("'", "''")
    ip_p = EMAIL_IP_DOMAIN_PATTERN.replace("'", "''")
    sym_ok = f"length({dom}) <= 253 AND regexp_matches({dom}, '{dom_p}')"
    if check_tld:
        from .tld import tld_sql_in_list

        last = f"lower(regexp_extract({dom}, '([^.]*)$', 1))"
        sym_ok = (
            f"{sym_ok} AND (NOT contains({dom}, '.')"
            f" OR {last} IN {tld_sql_in_list()})"
        )
    return (
        f"(NOT regexp_matches({expr}, '[\\r\\n]')"
        f" AND regexp_matches({expr}, '{split_p}') AND NOT suffix({expr}, '.')"
        f" AND length({user}) <= 64 AND regexp_matches({user}, '{user_p}')"
        f" AND CASE WHEN prefix({dom}, '[') THEN regexp_matches({dom}, '{ip_p}')"
        f" ELSE {sym_ok} END)"
    )


# ---------------------------------------------------------------------------
# Accent folding (r3 continuation): 1:1 code-point diacritic removal via
# translate() — the same builtin with the same mapping string on Spark
# and DuckDB, so folding is engine-portable by construction (unlike
# DuckDB's strip_accents, which Spark lacks). Deliberately NOT full
# Unicode NFKD: multi-char expansions (ß->ss, æ->ae) can't be 1:1
# translate mappings and are left to a future normalizer; the mapping
# covers the Latin-1/Latin-Extended-A diacritics that dominate European
# name matching.
# ---------------------------------------------------------------------------

ACCENT_SRC = (
    "àáâãäåāăèéêëēĕìíîïīĭòóôõöōŏùúûüūŭçćčñńňýÿžšŕłđ"
    "ÀÁÂÃÄÅĀĂÈÉÊËĒĔÌÍÎÏĪĬÒÓÔÕÖŌŎÙÚÛÜŪŬÇĆČÑŃŇÝŸŽŠŔŁĐ"
)
ACCENT_DST = (
    "aaaaaaaaeeeeeeiiiiiiooooooouuuuuucccnnnyyzsrld"
    "AAAAAAAAEEEEEEIIIIIIOOOOOOOUUUUUUCCCNNNYYZSRLD"
)
assert len(ACCENT_SRC) == len(ACCENT_DST)


def fold_accents(col: Column) -> Column:
    """Diacritic-folded text (1:1 translate, shared mapping)."""
    return F.translate(col, ACCENT_SRC, ACCENT_DST)


def fold_accents_sql(expr: str) -> str:
    """DuckDB twin of :func:`fold_accents` — identical mapping string."""
    return f"translate({expr}, '{ACCENT_SRC}', '{ACCENT_DST}')"


# --- width folding (r3 continuation) ---------------------------------------
# Fullwidth ASCII variants (U+FF01..U+FF5E) -> ASCII (U+0021..U+007E), plus
# the ideographic space U+3000 -> ' '. 1:1 code-point translate on both
# engines (Spark `translate` and DuckDB `translate` are code-point based),
# the compatibility-fold subset that matters for CJK/web text where
# numbers, latin letters and punctuation often arrive fullwidth.
WIDTH_SRC = "".join(chr(0xFF01 + i) for i in range(0x5E)) + "　"
WIDTH_DST = "".join(chr(0x21 + i) for i in range(0x5E)) + " "
assert len(WIDTH_SRC) == len(WIDTH_DST) == 0x5F


def fold_width(col: Column) -> Column:
    """Fullwidth->ASCII folded text (1:1 translate, shared mapping)."""
    return F.translate(col, WIDTH_SRC, WIDTH_DST)


def fold_width_sql(expr: str) -> str:
    """DuckDB twin of :func:`fold_width` — identical mapping string
    (single quotes SQL-escaped)."""
    src = WIDTH_SRC.replace("'", "''")
    dst = WIDTH_DST.replace("'", "''")
    return f"translate({expr}, '{src}', '{dst}')"


# --- ligature / multi-char expansions (r3 continuation) ---------------------
# The 1:1 translate in fold_accents cannot express multi-char expansions;
# these are the standard ones (documented out of scope until now). Applied
# as a chained replace — both engines' replace() is plain substring
# replacement, so the twins are definitionally identical. Order matters
# only for the uppercase/lowercase pairs (disjoint sources, so it doesn't).
LIGATURES: dict[str, str] = {
    "ß": "ss",
    "æ": "ae",
    "Æ": "AE",
    "œ": "oe",
    "Œ": "OE",
    "ﬁ": "fi",
    "ﬂ": "fl",
    "þ": "th",
    "Þ": "TH",
    "ĳ": "ij",
    "Ĳ": "IJ",
}


def expand_ligatures(col: Column) -> Column:
    """Multi-char ligature expansion (ß→ss, æ→ae, …) — chained replace,
    composes with fold_accents for full latin normalization."""
    out = col
    for src, dst in LIGATURES.items():
        out = F.replace(out, F.lit(src), F.lit(dst))
    return out


def expand_ligatures_sql(expr: str) -> str:
    """DuckDB twin of :func:`expand_ligatures` (same chain, same order)."""
    out = expr
    for src, dst in LIGATURES.items():
        out = f"replace({out}, '{src}', '{dst}')"
    return out


# --- confusable (homoglyph) folding (r3 continuation) -----------------------
# Cyrillic/Greek letters visually identical to Latin — the standard
# adversarial-dedup trick (spam templates swap a Latin 'o' for Cyrillic
# 'о' to defeat exact/shingle dedup). 1:1 code-point translate of the
# high-confidence Unicode-confusables subset; composes with fold_width +
# fold_accents. NOT a full UTS#39 skeleton (multi-char confusables like
# 'rn'→'m' are out of scope — they're string rewrites, not homoglyphs).
CONFUSABLE_SRC = (
    "аеорсухіѕјԛнвкмтАВЕКМНОРСТХУІЅЈ"  # Cyrillic lowers + uppers
    "οΑΒΕΖΗΙΚΜΝΟΡΤΥΧνιρυχκ"            # Greek
)
CONFUSABLE_DST = (
    "aeopcyxisjqhbkmtABEKMHOPCTXYISJ"
    "oABEZHIKMNOPTYXvipyxk"
)
assert len(CONFUSABLE_SRC) == len(CONFUSABLE_DST)


def fold_confusables(col: Column) -> Column:
    """Homoglyph-folded text (1:1 translate, shared mapping)."""
    return F.translate(col, CONFUSABLE_SRC, CONFUSABLE_DST)


def fold_confusables_sql(expr: str) -> str:
    """DuckDB twin of :func:`fold_confusables` — identical mapping."""
    return f"translate({expr}, '{CONFUSABLE_SRC}', '{CONFUSABLE_DST}')"
