"""CSV source autodetect (S1) + export sink (S6) — sources/csvio.py.

Mirrors the reference's behaviors: format-variant sweep on ingest
(utils/csv/CsvUtil.java:118-159) and CSV export with global sorted header +
JSON-encoded multi-valued cells (services/SearchService.java:233-259).
"""

from __future__ import annotations

import csv
import glob
import json
import os

from sneaky_data_matcher_spark.operators import search
from sneaky_data_matcher_spark.sources import csvio


def _write(path: str, text: str) -> str:
    with open(path, "w") as f:
        f.write(text)
    return path


def test_sniff_comma_header(spark, tmp_path):
    p = _write(
        str(tmp_path / "a.csv"),
        "name,email,phone\nalice,a@x.com,12345\nbob,b@y.org,99887\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt == {"sep": ",", "header": True, "escape": '"'}
    df = csvio.read_csv_auto(spark, p)
    assert df.columns == ["name", "email", "phone"]
    assert df.count() == 2


def test_sniff_tsv_no_header(spark, tmp_path):
    p = _write(
        str(tmp_path / "b.tsv"),
        "alice\ta@x.com\t123\nbob\tb@y.org\t456\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["sep"] == "\t"
    df = csvio.read_csv_auto(spark, p)
    # headerless -> positional names, the reference's by-index access (S3)
    assert df.columns == ["_c0", "_c1", "_c2"]
    assert df.count() == 2


def test_sniff_semicolon(spark, tmp_path):
    p = _write(
        str(tmp_path / "c.csv"),
        "x;y\n1;2\n3;4\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["sep"] == ";"
    assert fmt["header"] is True


def test_headerless_all_string_not_misread(spark, tmp_path):
    """All-string headerless file: first row must NOT be eaten as a header
    (an email is data, not a label)."""
    p = _write(
        str(tmp_path / "e.csv"),
        "alice,a@x.com\nbob,b@y.org\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["header"] is False
    assert csvio.read_csv_auto(spark, p).count() == 2


def test_quoted_cells_roundtrip(spark, tmp_path):
    p = _write(
        str(tmp_path / "d.csv"),
        'name,notes\nalice,"hello, world"\nbob,"say ""hi"""\n',
    )
    df = csvio.read_csv_auto(spark, p)
    rows = {r["name"]: r["notes"] for r in df.collect()}
    assert rows == {"alice": "hello, world", "bob": 'say "hi"'}


def test_export_csv_sorted_header_json_cells(spark, tmp_path):
    keys = spark.createDataFrame(
        [
            ("d1", "name", "alice"),
            ("d1", "name", "ally"),
            ("d1", "mail", "a@x.com"),
            ("d2", "name", "bob"),
        ],
        "doc_id string, key_kind string, value string",
    )
    seeds = keys.select("doc_id").distinct()
    rows = search.reassemble_rows(seeds, keys)
    wide = search.export_wide(rows, ["name", "mail"])
    out = str(tmp_path / "export")
    csvio.export_csv(wide, out)

    files = glob.glob(os.path.join(out, "*.csv"))
    assert len(files) == 1  # single_file export parity with MinIO blob
    with open(files[0]) as f:
        got = list(csv.DictReader(f))
    by_id = {r["doc_id"]: r for r in got}
    # header sorted, multi-valued cell JSON-encoded, missing cell empty
    assert list(got[0].keys()) == ["doc_id", "mail", "name"]
    assert json.loads(by_id["d1"]["name"]) == ["alice", "ally"]
    assert json.loads(by_id["d1"]["mail"]) == ["a@x.com"]
    assert by_id["d2"]["mail"] == ""




def test_sniff_backslash_escape_mysql_style(spark, tmp_path):
    """mysql/informix-style backslash escaping (CsvUtil.java variants
    MYSQL/INFORMIX_UNLOAD): \\" inside quoted cells must parse to a bare
    quote, identically to what the reference's matching CSVFormat yields."""
    p = _write(
        str(tmp_path / "e.csv"),
        'name,notes\nalice,"say \\"hi\\", ok"\nbob,"back\\\\slash"\n',
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["escape"] == "\\" and fmt["sep"] == "," and fmt["header"]
    df = csvio.read_csv_auto(spark, p)
    rows = {r["name"]: r["notes"] for r in df.collect()}
    assert rows == {"alice": 'say "hi", ok', "bob": "back\\slash"}


def test_sniff_rfc_doubled_quote_still_wins_without_backslashes(spark, tmp_path):
    """Escape-free files must keep the RFC dialect (no misdetection), and
    RFC beats backslash on genuinely ambiguous ties (the reference keeps
    its FIRST parsing variant, which is the doubled-quote DEFAULT)."""
    p = _write(
        str(tmp_path / "f.csv"),
        'name,notes\nalice,"hello, world"\nbob,"say ""hi"""\n',
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["escape"] == '"'


def test_escape_roundtrip_property(spark, tmp_path):
    """Round-trip: cells with quotes/commas/backslashes exported by
    export_csv (RFC doubled-quote) re-ingest byte-identically via the
    sniffing reader."""
    import pyspark.sql.functions as F

    data = [
        ("a", 'quote " mid'),
        ("b", "comma, mid"),
        ("c", "back\\slash"),
        ("d", 'both \\" forms'),
    ]
    wide = spark.createDataFrame(data, "doc_id string, v string")
    out = str(tmp_path / "rt")
    csvio.export_csv(wide, out)
    back = csvio.read_csv_auto(spark, out + "/*.csv")
    assert {tuple(r) for r in back.collect()} == set(data)


def test_mysql_unload_null_marker(spark, tmp_path):
    r"""MYSQL / POSTGRESQL_TEXT unload dialect (CsvUtil.java:120-122):
    tab-separated, backslash escapes, \N means SQL NULL. The sniffer must
    map \N cells to real nulls, not the two-character string."""
    p = _write(
        str(tmp_path / "f.tsv"),
        "id\tname\tcity\n1\talice\t\\N\n2\t\\N\tparis\n3\tbob\tlyon\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["sep"] == "\t" and fmt["nullValue"] == "\\N"
    df = csvio.read_csv_auto(spark, p)
    rows = {r["id"]: (r["name"], r["city"]) for r in df.collect()}
    assert rows["1"] == ("alice", None)
    assert rows["2"] == (None, "paris")
    assert rows["3"] == ("bob", "lyon")


def test_literal_backslash_n_without_backslash_dialect_stays_string(spark, tmp_path):
    """No-backslash-evidence files never get the null mapping: a comma
    file whose cells happen to contain the text \\N keeps it as data...
    (evidence-gated — plain files keep exact byte semantics)."""
    p = _write(
        str(tmp_path / "f.csv"),
        "id,name\n1,alice\n2,bob\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert "nullValue" not in fmt


def test_tdf_padded_cells_trimmed(spark, tmp_path):
    """TDF dialect (ignore surrounding spaces): padded tab cells trim on
    read when the sample shows padding."""
    p = _write(
        str(tmp_path / "f.tsv"),
        "id\tname\n1\t alice \n2\t bob\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["ignoreSpaces"] is True
    df = csvio.read_csv_auto(spark, p)
    got = {r["id"]: r["name"] for r in df.collect()}
    assert got == {"1": "alice", "2": "bob"}


def test_informix_pipe_backslash(spark, tmp_path):
    r"""INFORMIX_UNLOAD: pipe-separated with backslash escapes. The
    sniffer detects the dialect from unquoted escape evidence; cell-level
    unescaping is exercised through quoted cells (Spark's univocity
    parser applies the escape char inside quotes — a bare unquoted ``\|``
    is a documented reader limitation, same note as COVERAGE.md S1)."""
    # row 2's UNQUOTED escaped pipe is the dialect evidence: under the
    # RFC candidate it splits into 4 columns (inconsistent with the
    # 3-column header) so only the backslash dialect parses the sample
    # consistently — exactly how the reference's variant sweep lands on
    # INFORMIX_UNLOAD. Cell-level unescape is asserted on the QUOTED
    # row 1; row 2's unquoted form is the documented univocity
    # limitation (escape applies inside quotes).
    p = _write(
        str(tmp_path / "f.unl"),
        'id|name|notes\n1|alice|"pipe \\| inside"\n2|bob|plain \\| path\n',
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt["sep"] == "|" and fmt["escape"] == "\\"
    df = csvio.read_csv_auto(spark, p)
    got = {r["id"]: r["notes"] for r in df.collect()}
    assert got["1"] == "pipe | inside"


def test_backslash_dialect_two_files_drop_each_header(spark, tmp_path):
    """A directory of backslash-dialect files: every file's header line is
    dropped, and a data line byte-identical to the header is still kept."""
    d = tmp_path / "unl"
    d.mkdir()
    _write(str(d / "a.unl"), 'id|name|notes\n1|alice|"pipe \\| inside"\n2|bob|plain \\| path\n')
    _write(str(d / "b.unl"), "id|name|notes\n3|carol|x \\| y\nid|name|notes\n")
    df = csvio.read_csv_auto(spark, str(d))
    got = sorted((r["id"], r["name"]) for r in df.collect())
    assert got == [("1", "alice"), ("2", "bob"), ("3", "carol"), ("id", "name")]


from hypothesis import given, settings
from hypothesis import strategies as st

_CELL = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E)
        | st.sampled_from("\t\\|"),
        max_size=12,
    ),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(_CELL, _CELL), min_size=1, max_size=6))
def test_unload_roundtrip_property(spark, tmp_path_factory, rows):
    r"""Property: ANY cell content (tabs, backslashes, pipes, empties,
    NULLs) survives a MySQL-style unload write -> sniff -> parse round
    trip. The writer is an independent implementation of the dialect
    (escape \ and sep, \N for NULL), so agreement certifies the reader
    against the dialect spec rather than against itself.

    Cells that ARE the literal two-char string \N are excluded: the
    unload dialect is lossy there by design (commons-csv's nullString
    has the same collision). Empty string and NULL stay DISTINCT ('' vs
    \N) — the dialect separates them without quoting."""

    def esc(c):
        return c.replace("\\", "\\\\").replace("\t", "\\\t")

    lines = ["a\tb"]
    want = []
    for ca, cb in rows:
        if ca == "\\N" or cb == "\\N":
            continue
        want.append((ca, cb))
        lines.append(
            "\t".join("\\N" if c is None else esc(c) for c in (ca, cb))
        )
    if not want:
        return
    d = tmp_path_factory.mktemp("rt")
    p = _write(str(d / "f.tsv"), "\n".join(lines) + "\n")
    fmt = csvio.sniff_csv_format(spark, p)
    # force the unload dialect: tiny random samples can lack backslash
    # evidence (then the RFC path, also correct for those rows, would read
    # the file); the property targets the backslash parser specifically
    df = csvio.read_csv_auto(
        spark, p, sep="\t", header=True, escape="\\", nullValue="\\N"
    )
    got = [(r["a"], r["b"]) for r in df.collect()]
    assert sorted(got, key=repr) == sorted(want, key=repr), fmt


# ---------------------------------------------------------------------------
# ADVICE r4 fixes: trim gating, nullValue gating, header-once, overflow
# ---------------------------------------------------------------------------


def test_padded_comma_file_keeps_spaces(spark, tmp_path):
    """ADVICE r4 #1 (medium): commons tries DEFAULT (no trim) before TDF,
    so a padded COMMA file keeps its spaces — the trim heuristic is
    tab-dialect-only."""
    p = _write(
        str(tmp_path / "pad.csv"),
        "id,name\n1, alice\n2, bob\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert "ignoreSpaces" not in fmt
    rows = {r["id"]: r["name"] for r in csvio.read_csv_auto(spark, p).collect()}
    assert rows["1"] == " alice" and rows["2"] == " bob"


def test_padded_tab_file_trims(spark, tmp_path):
    """TDF (tab-delimited) padding still trims."""
    p = _write(
        str(tmp_path / "pad.tsv"),
        "id\tname\n1\t alice \n2\t bob\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt.get("ignoreSpaces") is True
    rows = {r["id"]: r["name"] for r in csvio.read_csv_auto(spark, p).collect()}
    assert rows["1"] == "alice" and rows["2"] == "bob"


def test_rfc_file_with_stray_backslash_keeps_literal_null_marker(spark, tmp_path):
    """ADVICE r4 #2: a quote-dialect comma file containing a backslash
    elsewhere plus a literal \\N cell keeps the 2-char string — the extra
    backslash is evidence AGAINST the unload reading."""
    p = _write(
        str(tmp_path / "stray.csv"),
        'id,name,note\n1,"a\\b",\\N\n2,carol,fine\n',
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert "nullValue" not in fmt
    rows = {r["id"]: r["note"] for r in csvio.read_csv_auto(spark, p).collect()}
    assert rows["1"] == "\\N"


def test_pure_unload_null_marker_still_maps(spark, tmp_path):
    """The pure-\\N unload (no other escapes — ties with RFC) still maps
    \\N to NULL: every backslash in the sample is a whole-cell marker."""
    p = _write(
        str(tmp_path / "pure.tsv"),
        "id\tname\n1\t\\N\n2\tbob\n",
    )
    fmt = csvio.sniff_csv_format(spark, p)
    assert fmt.get("nullValue") == "\\N"
    rows = {r["id"]: r["name"] for r in csvio.read_csv_auto(spark, p).collect()}
    assert rows["1"] is None and rows["2"] == "bob"


def test_backslash_path_keeps_data_line_identical_to_header(spark, tmp_path):
    """ADVICE r4 #3a: a DATA line byte-identical to the header is kept
    (commons-csv keeps such records); only the physical first line is
    dropped."""
    p = _write(
        str(tmp_path / "dup.tsv"),
        "a\tb\n1\tx\\\\y\na\tb\n2\tz\n",
    )
    df = csvio.read_csv_auto(spark, p, sep="\t", header=True, escape="\\")
    got = sorted([(r["a"], r["b"]) for r in df.collect()])
    assert got == [("1", "x\\y"), ("2", "z"), ("a", "b")]


def test_backslash_path_overflow_error_mode(spark, tmp_path):
    """ADVICE r4 #3b: on_overflow='error' surfaces rows wider than the
    header instead of silently truncating (truncate, the default, matches
    Spark's own PERMISSIVE CSV semantics)."""
    import pytest as _pytest

    p = _write(
        str(tmp_path / "wide.tsv"),
        "a\tb\n1\tx\\\\1\n2\ty\textra\n",
    )
    df = csvio.read_csv_auto(
        spark, p, sep="\t", header=True, escape="\\", on_overflow="error"
    )
    with _pytest.raises(Exception, match="3 cells, header has 2"):
        df.collect()
    ok = csvio.read_csv_auto(spark, p, sep="\t", header=True, escape="\\")
    got = sorted([(r["a"], r["b"]) for r in ok.collect()])
    assert got == [("1", "x\\1"), ("2", "y")]


def test_multiline_quoted_newlines_roundtrip(spark, tmp_path):
    """VERDICT r4 #6: quoted cells containing embedded newlines read back
    correctly under the flagged multiLine fallback (off by default — it
    makes files non-splittable; the test writes RFC doubled-quote cells
    exactly as export_csv would)."""
    p = _write(
        str(tmp_path / "ml.csv"),
        'id,note\n1,"line one\nline two"\n2,"say ""hi""\nbye"\n3,plain\n',
    )
    df = csvio.read_csv_auto(spark, p, sep=",", header=True, multiLine=True)
    rows = {r["id"]: r["note"] for r in df.collect()}
    assert rows["1"] == "line one\nline two"
    assert rows["2"] == 'say "hi"\nbye'
    assert rows["3"] == "plain"
