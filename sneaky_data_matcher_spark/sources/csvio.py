"""CSV source with format autodetect + CSV export sink (SURVEY.md §2 S1, S6).

The reference ingests CSV uploads by trying 24 Apache-Commons CSVFormat
variants (default/excel/tsv/mysql/... x with/without header) and keeping the
first that parses (utils/csv/CsvUtil.java:118-159), and exports search
results as CSV with a global sorted header, JSON-encoding multi-valued
cells (services/SearchService.java:233-259,168-186).

Spark-first re-expression: `spark.read.csv` already handles quoting/escape
dialects; autodetect reduces to choosing (sep, header) from a small sample
read on the driver — a few KB of the first file, never a full pass. The
export sink is `df.write.csv` over the wide frame from
operators/search.export_wide (arrays JSON-encoded there).

Scale notes: a 100 TB CSV ingest is split-parallel out of the box
(newline-splittable unless multiLine); autodetect cost is O(sample), not
O(data). Export writes one file per partition — callers coalesce only for
small parity exports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Candidate dialects, mirroring the reference's variant sweep (CsvUtil.java:
# 19-116): comma/tab/semicolon/pipe separators, each with and without header,
# each with RFC-4180 doubled-quote escaping (DEFAULT/EXCEL/RFC4180) or
# mysql-style backslash escaping (MYSQL/INFORMIX_UNLOAD/POSTGRESQL_*).
_SEPS = [",", "\t", ";", "|"]
_ESCAPES = ['"', "\\"]  # RFC doubled-quote first — the reference's try order


def sniff_csv_format(spark: SparkSession, path: str, sample_lines: int = 20) -> dict:
    """Pick (sep, header, escape) from a driver-side sample of the first
    lines.

    (sep, escape): the candidate pair parsing every sampled line into the
    same column count > 1 (most columns wins ties; on a column-count tie
    RFC-4180 doubled-quote beats backslash-escape, matching the reference's
    variant order — CsvUtil.java:118-159 keeps the FIRST format that
    parses). A backslash dialect additionally requires backslash evidence
    in the sample (a bare `\\"` or `\\\\`), so escape-free files never
    misdetect. header: first row is all-non-numeric while any later row
    has a numeric cell — the common-case heuristic; callers can override.
    """
    import csv as _csv

    sample = [r.value for r in spark.read.text(path).limit(sample_lines).collect()]
    if not sample:
        return {"sep": ",", "header": False, "escape": '"'}
    has_backslash = any("\\" in line for line in sample)
    best_sep, best_cols, best_rows, best_esc = ",", 1, [sample], '"'
    for sep in _SEPS:
        for esc in _ESCAPES:
            if esc == "\\" and not has_backslash:
                continue
            # quote-aware parse of the sample (the reference tries full CSV
            # parsers per variant, not naive splits — CsvUtil.java:140-150)
            if esc == "\\":
                rows = list(
                    _csv.reader(
                        sample, delimiter=sep, doublequote=False, escapechar="\\"
                    )
                )
            else:
                rows = list(_csv.reader(sample, delimiter=sep))
            counts = {len(r) for r in rows if r}
            if len(counts) == 1:
                (n,) = counts
                if n > best_cols:
                    best_sep, best_cols, best_rows, best_esc = sep, n, rows, esc
    def _numericish(cell: str) -> bool:
        try:
            float(cell.strip())
            return True
        except ValueError:
            return False

    first = best_rows[0]
    rest = best_rows[1:]
    # header if the first row looks like labels: all non-numeric, and either
    # later rows carry numbers (type contrast) or the first row's cells are
    # distinct identifier-like names ([A-Za-z_][\w -]*; an email or URL in
    # row 1 means data, not a header — misclassifying silently drops the
    # first record). Genuinely ambiguous files: callers override.
    import re as _re

    ident = _re.compile(r"^[A-Za-z_][A-Za-z0-9_ -]*$")
    header = (
        best_cols > 1
        and not any(_numericish(c) for c in first)
        and (
            any(_numericish(c) for row in rest for c in row)
            or (
                len(set(first)) == len(first)
                and all(ident.match(c.strip()) for c in first)
            )
        )
    )
    out = {"sep": best_sep, "header": header, "escape": best_esc}
    # Database-unload dialect semantics (r4 — covers the remaining
    # distinctive features of the reference's MYSQL / ORACLE /
    # POSTGRESQL_TEXT / TDF CSVFormat variants, CsvUtil.java:120-122,
    # beyond what the sep×escape cross-product already detects):
    #   - a whole cell equal to \N is the unload null marker — map it to
    #     SQL NULL (Spark nullValue) instead of the 2-char string;
    #   - TDF-style padded cells (" value\t") → trim surrounding spaces.
    # Both trigger only on sample EVIDENCE, so plain files keep exact
    # byte semantics (a literal "\N" string column is vanishingly rare in
    # non-unload data, and then only when backslash evidence exists).
    data_rows = rest if header else best_rows
    cells = [c for row in data_rows for c in row]
    # null marker must be detected on the RAW lines: the parsed cells
    # above already consumed the escape char (\N -> "N"), so a whole-field
    # \N is only visible pre-parse, delimiter-adjacent or line-terminal.
    sep_re = _re.escape(best_sep)
    null_pat = _re.compile(rf"(^|{sep_re})\\N({sep_re}|$)")
    # \N → NULL only when the file is credibly an unload (ADVICE r4 #2 —
    # the reference applies nullString only under the MYSQL /
    # POSTGRESQL_TEXT formats, CsvUtil.java:120-122): either the
    # backslash dialect actually WON the sweep, or EVERY backslash in
    # the sample is itself a whole-cell \N marker (the pure-\N unload,
    # which ties with RFC because it contains no other escapes). A
    # quote-dialect file with a stray backslash elsewhere plus a literal
    # "\N" cell keeps the 2-char string — that backslash is data
    # evidence against the unload reading.
    data_sample = sample[1 if header else 0:]
    if any(null_pat.search(ln) for ln in data_sample):
        null_sub = _re.compile(rf"(^|{sep_re})\\N(?={sep_re}|$)")
        only_marker_backslashes = not any(
            "\\" in null_sub.sub(r"\1", ln) for ln in sample
        )
        if best_esc == "\\" or only_marker_backslashes:
            out["nullValue"] = "\\N"
    # TDF padding is SPACES around cells in the TAB-delimited quote
    # dialect ONLY: commons' variant sweep tries CSVFormat.DEFAULT (no
    # trim) before TDF (CsvUtil.java:121), so a padded COMMA file keeps
    # its spaces there — firing on any quote dialect silently trimmed
    # data bytes from ordinary '1, alice' CSVs (ADVICE r4 #1, medium).
    # Never fire for backslash dialects (escaped whitespace there is
    # cell content) and never strip tabs.
    if (
        best_sep == "\t"
        and best_esc == '"'
        and best_cols > 1
        and any(c != c.strip(" ") and c.strip(" ") for c in cells)
    ):
        out["ignoreSpaces"] = True
    return out


def read_csv_auto(spark: SparkSession, path: str, **overrides) -> DataFrame:
    """S1: CSV scan with dialect autodetect; explicit options override the
    sniff. Columns without a header get Spark's positional names (_c0...) —
    the reference's name-or-index access (CsvUtil.java:98-110) maps to
    `df.columns[i]` resolution at plan time (S3).

    Backslash-escape dialects (MYSQL / INFORMIX_UNLOAD / POSTGRESQL_TEXT)
    route through `_read_backslash_csv`: Spark's univocity parser only
    applies the escape char to quotes, so an unquoted ``\\|`` splits the
    row and a quoted ``\\|`` stays two characters — commons-csv unescapes
    ANY escaped char. The dedicated path parses each line with the
    C-implemented csv module inside Arrow-batched mapInPandas (one ingest
    pass, newline-splittable, no per-row Python)."""
    fmt = sniff_csv_format(spark, path)
    fmt.update(overrides)
    if fmt.get("escape") == "\\":
        # trim never applies here: TDF (the only trimming dialect) is a
        # quote dialect, and surrounding whitespace in an unload is data
        return _read_backslash_csv(
            spark,
            path,
            sep=fmt["sep"],
            header=bool(fmt["header"]),
            null_value=fmt.get("nullValue"),
            on_overflow=fmt.get("on_overflow", "truncate"),
        )
    r = (
        spark.read.option("sep", fmt["sep"])
        .option("header", str(bool(fmt["header"])).lower())
        .option("quote", fmt.get("quote", '"'))
        .option("escape", fmt.get("escape", '"'))
    )
    if fmt.get("nullValue"):
        r = r.option("nullValue", fmt["nullValue"])
    if fmt.get("ignoreSpaces"):
        r = r.option("ignoreLeadingWhiteSpace", "true").option(
            "ignoreTrailingWhiteSpace", "true"
        )
    # Embedded newlines inside quoted cells (real database exports have
    # them — CsvUtil.java's commons parsers handle them natively): opt-in
    # via multiLine=True because it makes each FILE non-splittable — one
    # task per file instead of one per 128 MB split. Correct at 100 TB
    # only when the export is already many files; for single-blob exports
    # prefer re-export without embedded newlines. Off by default: the
    # newline-splittable fast path keeps full scan parallelism.
    if fmt.get("multiLine"):
        r = r.option("multiLine", "true")
    return r.csv(path)


def _read_backslash_csv(
    spark: SparkSession,
    path: str,
    sep: str,
    header: bool,
    null_value: str | None = None,
    trim: bool = False,
    on_overflow: str = "truncate",
) -> DataFrame:
    """Commons-csv-compatible reader for backslash-escape dialects
    (CsvUtil.java variants MYSQL / INFORMIX_UNLOAD / POSTGRESQL_TEXT):
    ``\\X`` unescapes to ``X`` anywhere — quoted or not — and the unload
    null marker maps to SQL NULL.

    Scale shape: `spark.read.text` is newline-splittable (embedded
    newlines inside quotes are NOT supported on this path — the same
    trade every splittable 100 TB CSV ingest makes); each Arrow batch of
    lines is parsed by the C csv module in one call, so the Python cost
    is per-batch, not per-row. Column count is fixed by the header (or
    first line), matching the reference's header-driven CSVParser.

    The header is dropped once PER FILE — each file's first non-empty line,
    when it equals the header; data lines byte-identical to the header
    are kept, as commons-csv keeps them (ADVICE r4 #3). Rows with MORE
    cells than the header: `on_overflow='truncate'` (default) drops the
    extras — the same semantics as Spark's own PERMISSIVE CSV reader —
    while `'error'` raises on the first such line for strict parity
    audits."""
    import csv as _csv
    from typing import Iterator

    import pandas as pd

    first = spark.read.text(path).limit(1).collect()
    if not first:
        return spark.createDataFrame([], "value string")
    head_cells = next(
        _csv.reader([first[0].value], delimiter=sep, doublequote=False, escapechar="\\")
    )
    ncols = len(head_cells)
    if header:
        names = [c.strip() if trim else c for c in head_cells]
        head_line = first[0].value
    else:
        names = [f"_c{i}" for i in range(ncols)]
        head_line = None
    schema = ", ".join(f"`{n}` string" for n in names)

    # Two parse strategies, matching the commons-csv variants' structure:
    #   - null_value set => quoteless unload (CSVFormat.MYSQL /
    #     POSTGRESQL_TEXT have quote=null): sentinel-protect escaped
    #     backslashes and separators with vectorized str.replace, split
    #     on the bare separator, null-check the RAW \N cell, then restore
    #     — the null marker must be compared before unescaping (\N
    #     unescapes to plain "N", which would collide with data).
    #   - otherwise => quoted dialect (INFORMIX_UNLOAD): the C csv module
    #     with escapechar applies \X -> X inside and outside quotes,
    #     exactly commons-csv's escape-any-char behavior.
    SENT_BS, SENT_SEP = "\x00", "\x01"
    if on_overflow not in ("truncate", "error"):
        raise ValueError(f"on_overflow must be 'truncate' or 'error', got {on_overflow!r}")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Drop the header ONLY at its physical position: the first line of
        # each file, read by the split that starts at offset 0 (a task may
        # read several files' splits in turn). A global `ln != head_line`
        # filter also dropped every DATA line byte-identical to the
        # header — silent loss.
        started: set[str] = set()  # files whose first line has passed
        for pdf in batches:
            pdf = pdf[pdf["value"] != ""]
            if header:
                st = pdf[pdf["_at_start"] & ~pdf["_file"].isin(started)]
                firsts = st.index[~st["_file"].duplicated()]
                started.update(st["_file"])
                pdf = pdf.drop(firsts[pdf.loc[firsts, "value"] == head_line])
            lines = pdf["value"].tolist()
            out: list[list[str | None]] = []

            def _fit(raw: list) -> list:
                if len(raw) > ncols and on_overflow == "error":
                    raise ValueError(
                        f"row has {len(raw)} cells, header has {ncols}: {raw[:6]}..."
                    )
                return (list(raw) + [None] * ncols)[:ncols]

            if null_value is not None:
                ser = pd.Series(lines, dtype=object)
                ser = ser.str.replace("\\\\", SENT_BS, regex=False)
                ser = ser.str.replace("\\" + sep, SENT_SEP, regex=False)
                for raw in ser.str.split(sep).tolist():
                    cells: list[str | None] = []
                    for c in _fit(raw):
                        # raw cell comparison: \N survives sentinel
                        # substitution untouched (N is neither \\ nor \sep)
                        if c is None or c == null_value:
                            cells.append(None)
                            continue
                        # sentinel restore IS the unescape: \\ and \sep
                        # are the only sequences this dialect's writer
                        # emits (mnemonic escapes like \n are a
                        # documented commons-csv delta); any remaining
                        # backslash is literal data, so no second pass.
                        c = c.replace(SENT_SEP, sep).replace(SENT_BS, "\\")
                        cells.append(c.strip() if trim else c)
                    out.append(cells)
            else:
                rows = _csv.reader(
                    lines, delimiter=sep, doublequote=False, escapechar="\\"
                )
                for cells_raw in rows:
                    cells = [
                        (c.strip() if trim and isinstance(c, str) else c)
                        for c in _fit(cells_raw)
                    ]
                    out.append(cells)
            yield pd.DataFrame(out, columns=names, dtype=object)

    return (
        spark.read.text(path)
        .select(
            "value",
            F.col("_metadata.file_path").alias("_file"),
            (F.col("_metadata.file_block_start") == 0).alias("_at_start"),
        )
        .mapInPandas(parse, schema=schema)
    )


def export_csv(wide: DataFrame, path: str, single_file: bool = True) -> None:
    """S6: CSV export sink. `wide` is the export frame (global sorted header,
    array cells already JSON-encoded — operators/search.export_wide).
    single_file=True mirrors the reference's one-blob-to-MinIO export for
    parity tests; large exports keep one file per partition."""
    out = wide.coalesce(1) if single_file else wide
    # escape=quote -> RFC-4180 doubled quotes (Spark defaults to backslash)
    (
        out.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
