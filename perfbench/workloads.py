"""The benchmark's workloads, driven only through the package's public API.

A workload has a ``setup`` (its inputs, built or read from the cache) and an
``op`` (one operation: a whole batch pass, or one probe batch) that returns
its materialized output. ``summary`` reduces an output to counts and an
order-independent checksum; ``check`` re-derives the output of each layer
with single-node code, for the first output of each input (``slot``).
"""

from __future__ import annotations

import hashlib
import itertools
import random
import shutil
import statistics
from collections import defaultdict
from pathlib import Path
from types import SimpleNamespace

import duckdb
import pyarrow.parquet as pq

from . import inputs

# Every PipelineConfig field a batch workload depends on is spelled out, so a
# later change of a default cannot silently change what a workload measures.
BATCH_CONFIG = dict(
    max_block_size=50,
    prefix_tokens=2,
    prefix_chars=4,
    sorted_tokens=3,
    weights={"jw": 0.4, "lev": 0.2, "tok": 0.3, "med": 0.1},
    score_prefix_len=128,
    cc_max_iterations=25,
    salting_enabled=True,
    fused_scoring=False,
    cc_pre_contract=True,
)
PROBE_THRESHOLD = 0.8
PROBE_BATCH_DOCS = 50
# incremental_match blocks on blocking_keys' default pfx/srt keys
_PROBE_KEYS = SimpleNamespace(prefix_tokens=2, prefix_chars=4, sorted_tokens=3)


def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in sorted("\t".join(map(str, r)) for r in rows):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class Workload:
    name = ""
    warm_ops = 1  # untimed operations at the end of set-up
    cycle = 1  # timed operations come in whole cycles of this many
    # nominal seconds per timed operation on a quiet 4-vCPU host; a run
    # times round(--seconds / (cycle * op_s)) whole cycles, at least one
    op_s = 1.0

    def __init__(self, spark, seed: int, scale: str, tracer):
        self.spark, self.seed, self.scale, self.tracer = spark, seed, scale, tracer
        # per-layer counts taken outside the timed operations (traced runs)
        self.layers: dict[str, list[float]] = defaultdict(list)

    def setup(self) -> bool:
        """Build or load inputs; return whether the input cache was built."""
        raise NotImplementedError

    def op(self, i: int):
        """Run operation ``i``; return its materialized output."""
        raise NotImplementedError

    def summary(self, out) -> dict:
        """Counts and an order-independent checksum of an op's output."""
        raise NotImplementedError

    def check(self, out) -> list[str]:
        """Independent checks of the first output of each slot."""
        return []

    def layer_counts(self, out) -> None:
        """One-off per-layer counts from the first output of each slot."""

    def release(self, out) -> None:
        """Free what an op's output holds, outside the timed region."""

    def slot(self, i: int) -> int:
        """Operations with the same slot must produce the same output."""
        return 0


# ---------------------------------------------------------------------------
# batch workloads: canonicalize -> block -> score -> cluster
# ---------------------------------------------------------------------------


class _Batch(Workload):
    threshold = 0.0
    banded = False

    def config(self):
        from sneaky_data_matcher_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(
            threshold=self.threshold, banded_scoring=self.banded, **BATCH_CONFIG
        )

    def summary(self, frames: dict) -> dict:
        clusters = frames["clusters"].collect()
        n_edges = frames["scored"].where(f"score >= {self.threshold}").count()
        return {
            "pairs": frames["pairs"].count(),
            "match_edges": n_edges,
            "clusters": len({r["cluster_id"] for r in clusters}),
            "checksum": _digest((r["doc_id"], r["cluster_id"]) for r in clusters),
        }

    def _raw_texts(self) -> dict[str, str]:
        raise NotImplementedError

    def check(self, frames: dict) -> list[str]:
        """Re-derive each layer's output from its input, single-node."""
        errors = []
        cfg = self.config()
        canon = {
            r["doc_id"]: (r["doc_text"], list(r["media_refs"]))
            for r in frames["canon"].collect()
        }
        errors += _check_canon(canon, self._raw_texts())
        pairs = [(r[0], r[1]) for r in frames["pairs"].collect()]
        id_type = frames["canon"].schema["doc_id"].dataType.simpleString()
        errors += _check_pairs(pairs, canon, cfg, lambda want: self._salts(want, id_type))
        scored = frames["scored"].collect()
        if {(r["doc_id_a"], r["doc_id_b"]) for r in scored} != set(pairs) or len(scored) != len(pairs):
            errors.append("scoring: scored pairs are not exactly the candidate pairs")
        errors += _check_scores(scored, canon, cfg, self.seed)
        edges = [(r["doc_id_a"], r["doc_id_b"]) for r in scored if r["score"] >= cfg.threshold]
        clusters = {r["doc_id"]: r["cluster_id"] for r in frames["clusters"].collect()}
        errors += _check_clusters(clusters, edges, canon)
        return errors

    def _salts(self, want: set, id_type: str) -> dict:
        """{(doc_id, n_salts): salt} as Spark's own xxhash64 gives it."""
        from pyspark.sql import functions as F

        if not want:
            return {}
        df = self.spark.createDataFrame(sorted(want), f"doc_id {id_type}, n int")
        salt = F.pmod(F.xxhash64("doc_id"), F.col("n")).cast("int")
        return {(r[0], r[1]): r[2] for r in df.select("doc_id", "n", salt).collect()}

    def layer_counts(self, frames: dict) -> None:
        from pyspark.sql import functions as F

        from sneaky_data_matcher_spark.operators import blocking, clustering, scoring

        cfg = self.config()
        keys = blocking.blocking_keys(
            frames["canon"],
            prefix_tokens=cfg.prefix_tokens,
            prefix_chars=cfg.prefix_chars,
            sorted_tokens=cfg.sorted_tokens,
        ).persist()
        census = keys.groupBy("pass", "block_key").count()
        salted = blocking.salt_keys(keys, cfg.max_block_size)
        cols = ["pass", "block_key", "salt"]
        joined = (
            salted.select(*cols, F.col("doc_id").alias("a"))
            .join(salted.select(*cols, F.col("doc_id").alias("b")), cols)
            .where("a < b")
            .count()
        )
        n_pairs = frames["pairs"].count()
        parts = [
            r[0]
            for r in frames["pairs"]
            .groupBy(F.spark_partition_id())
            .count()
            .select("count")
            .collect()
        ]
        scored = frames["scored"]
        n_scored = scored.count()
        pruned = scored.where(F.col("jw").isNull()).count() if self.banded else 0
        matches = scoring.matches(scored, cfg.threshold)
        stats: dict = {}
        clustering.connected_components(
            matches, cfg.cc_max_iterations, pre_contract=cfg.cc_pre_contract, _stats=stats
        ).count()
        counts = {
            "canonicalize.rows": frames["canon"].count(),
            "blocking.key_rows": keys.count(),
            "blocking.hot_blocks": census.where(F.col("count") > cfg.max_block_size).count(),
            "blocking.pairs": n_pairs,
            "blocking.dedup_ratio": n_pairs / max(joined, 1),
            "blocking.partition_skew": max(parts) / max(statistics.median(parts), 1),
            "scoring.pairs": n_scored,
            "scoring.pruned_frac": pruned / max(n_scored, 1),
            "scoring.match_edges": matches.count(),
            "clustering.edges_in": matches.count(),
            "clustering.rounds": stats.get("rounds", 0),
            "clustering.large_stars": stats.get("large_stars", 0),
            "clustering.small_stars": stats.get("small_stars", 0),
            "clustering.clusters": frames["clusters"].select("cluster_id").distinct().count(),
        }
        for k, v in counts.items():
            self.layers[k].append(v)
        keys.unpersist()


class SfBanded(_Batch):
    """The sf0.1 documents, stages persisted in memory, banded scoring.

    The input is fixed: the seed only draws the sample of checked scores.
    """

    name = "sf01_banded"
    threshold = 0.85
    banded = True
    op_s = 8.0

    def setup(self):
        self.path, built = inputs.sf01_documents(None if self.scale == "full" else 300)
        return built

    def _raw_texts(self):
        t = pq.read_table(self.path, columns=["doc_id", "text"]).to_pydict()
        return {str(d): x for d, x in zip(t["doc_id"], t["text"])}

    def op(self, i):
        from sneaky_data_matcher_spark.plans import pipeline as P
        from sneaky_data_matcher_spark.sources.io import load_docs

        cfg, tr = self.config(), self.tracer
        with tr.span("canonicalize"):
            canon = P.canonicalize_docs(load_docs(self.spark, str(self.path))).persist()
            canon.count()
        with tr.span("blocking"):
            pairs = P.build_candidate_pairs(canon, cfg).persist()
            pairs.count()
        with tr.span("scoring"):
            scored = P.score_candidates(pairs, canon, cfg).persist()
            scored.count()
        with tr.span("clustering"):
            clusters = P.assign_clusters(scored, canon, cfg).persist()
            clusters.count()
        return {"canon": canon, "pairs": pairs, "scored": scored, "clusters": clusters}

    def release(self, frames) -> None:
        for df in frames.values():
            df.unpersist()


class SynthCommitted(_Batch):
    """Labeled synthetic corpus through the checkpointed run API, full scoring."""

    name = "synth_committed"
    threshold = 0.62
    banded = False
    op_s = 5.0

    def setup(self):
        n = 4000 if self.scale == "full" else 400
        self.entry, built = inputs.synth_corpus(self.spark, n, self.seed, n_probe=0)
        self.runs_dir = inputs.WORK_DIR / "runs" / self.name
        shutil.rmtree(self.runs_dir, ignore_errors=True)
        return built

    def _raw_texts(self):
        return _span_texts(self.entry / "corpus.parquet")

    def op(self, i):
        from sneaky_data_matcher_spark.plans.runs import run_pipeline
        from sneaky_data_matcher_spark.sources.io import load_docs

        with self.tracer.span("runs") as span:
            docs = load_docs(self.spark, str(self.entry / "corpus.parquet"))
            out = run_pipeline(
                self.spark, docs, str(self.runs_dir), f"pass{i}", cfg=self.config()
            )
            out["clusters"].count()
        if self.tracer.enabled:
            self._stage_spans(out["run"], span.start)
        return out

    def _stage_spans(self, run, start: float) -> None:
        """Stage boundaries from the run's own ``_jobs`` completion times."""
        done = {r["stage"]: r["recorded_at"] for r in run.jobs().collect()}
        prev = start
        for stage, layer in (
            ("canon", "canonicalize"),
            ("pairs", "blocking"),
            ("scored", "scoring"),
            ("clusters", "clustering"),
        ):
            self.tracer.add_span(layer, prev, done[stage])
            self.tracer.note(f"runs.stage_s.{stage}", done[stage] - prev)
            prev = done[stage]

    def _run_dir(self, frames) -> Path:
        return self.runs_dir / frames["run"].run_id

    def layer_counts(self, frames):
        from sneaky_data_matcher_spark.operators.evaluation import pairwise_confusion

        super().layer_counts(frames)
        self.layers["runs.bytes_written"].append(sum(
            p.stat().st_size for p in self._run_dir(frames).rglob("*") if p.is_file()
        ))
        labels = self.spark.read.parquet(str(self.entry / "labels.parquet"))
        pred = frames["scored"].where(f"score >= {self.threshold}")
        row = pairwise_confusion(
            pred.select("doc_id_a", "doc_id_b"),
            labels.where("is_match").select("doc_id_a", "doc_id_b"),
        ).collect()[0]
        self.layers["quality.pairwise_f1"].append(row["f1"])

    def release(self, frames) -> None:
        shutil.rmtree(self._run_dir(frames), ignore_errors=True)


# ---------------------------------------------------------------------------
# probe workload: small batches matched against committed golden records
# ---------------------------------------------------------------------------


class ProbeIncremental(Workload):
    """Closed loop, one client: 50-doc probe batches against a golden table.

    Every run times whole cycles over the same batches, in the same order,
    after one untimed cycle (batch latency keeps falling over the first
    thirty or so batches of a session, so every run times the same ones).
    """

    name = "probe_incremental"
    op_s = 0.7

    def setup(self):
        from pyspark.sql import functions as F

        from sneaky_data_matcher_spark.operators.clustering import golden_records
        from sneaky_data_matcher_spark.plans.pipeline import canonicalize_docs
        from sneaky_data_matcher_spark.sources.io import load_docs
        from sneaky_data_matcher_spark.sources.spans import SPAN_SCHEMA

        n, n_batches = (4000, 8) if self.scale == "full" else (400, 3)
        self.entry, built = inputs.synth_corpus(
            self.spark, n, self.seed, n_probe=n_batches * PROBE_BATCH_DOCS
        )
        corpus_path = str(self.entry / "corpus.parquet")

        def build_golden(out):
            # entities as the generator resolved them: truth ids are clusters
            truth = self.spark.read.parquet(corpus_path).select(
                "doc_id", F.col("entity_id").alias("cluster_id")
            )
            canon = canonicalize_docs(load_docs(self.spark, corpus_path))
            golden = golden_records(truth, canon, numeric_ids=False).toArrow()
            pq.write_table(golden, out / "golden.parquet")

        golden_dir, golden_built = inputs.cached(f"golden-{self.entry.name}", build_golden)
        golden_path = golden_dir / "golden.parquet"
        self.golden = self.spark.read.parquet(str(golden_path))
        g = pq.read_table(golden_path, columns=["cluster_id", "rep_text"]).to_pydict()
        self.golden_text = dict(zip(g["cluster_id"], g["rep_text"]))
        self.golden_index: dict[str, set] = defaultdict(set)
        for cid, text in self.golden_text.items():
            for k in _doc_keys(text, [], _PROBE_KEYS):
                self.golden_index[k].add(cid)
        rows = pq.read_table(self.entry / "probes.parquet").sort_by("doc_id").to_pylist()
        self.truth = {r["doc_id"]: r["entity_id"] for r in rows}
        self.raw = {r["doc_id"]: _text_of(r["spans"]) for r in rows}
        chunks = [rows[k : k + PROBE_BATCH_DOCS] for k in range(0, len(rows), PROBE_BATCH_DOCS)]
        random.Random(self.seed).shuffle(chunks)
        self.batch_ids = [frozenset(r["doc_id"] for r in c) for c in chunks]
        schema = f"doc_id string, spans {SPAN_SCHEMA}"
        self.batches = [
            self.spark.createDataFrame([(r["doc_id"], r["spans"]) for r in c], schema)
            for c in chunks
        ]
        self.cycle = self.warm_ops = len(self.batches)
        return built or golden_built

    def slot(self, i):
        return i % len(self.batches)

    def op(self, i):
        from sneaky_data_matcher_spark.operators.incremental_er import incremental_match
        from sneaky_data_matcher_spark.plans.pipeline import canonicalize_docs

        tr = self.tracer
        with tr.span("canonicalize"):
            canon = canonicalize_docs(self.batches[self.slot(i)]).persist()
            canon.count()
        with tr.span("incremental"):
            rows = incremental_match(canon, self.golden, threshold=PROBE_THRESHOLD).collect()
        canon.unpersist()
        return rows

    def summary(self, rows):
        return {
            "docs": len(rows),
            "matched": sum(r["matched"] for r in rows),
            "checksum": _digest(
                (r["doc_id"], r["assigned_cluster"], r["matched"], r["best_score"])
                for r in rows
            ),
        }

    def _canonical(self, rows) -> dict[str, str]:
        from sneaky_data_matcher_spark.functions.pyoracle import transform

        return {r["doc_id"]: transform(self.raw[r["doc_id"]], ["TLC", "NRM"]) for r in rows}

    def _candidates(self, text: str) -> set:
        """Golden entities sharing a block key with a canonical probe text."""
        keys = _doc_keys(text, [], _PROBE_KEYS)
        return set().union(*(self.golden_index.get(k, ()) for k in keys))

    def check(self, rows):
        """Re-derive every probe doc's candidates, scores and best entity."""
        ids = [r["doc_id"] for r in rows]
        if frozenset(ids) not in self.batch_ids or len(ids) != len(set(ids)):
            return ["incremental: output does not hold each batch doc exactly once"]
        texts = self._canonical(rows)
        scores = _probe_scores(
            [(d, c, t, self.golden_text[c]) for d, t in texts.items() for c in self._candidates(t)]
        )
        bad = 0
        for r in rows:
            mine = scores.get(r["doc_id"], {})
            best = max(mine.values(), default=None)
            if best is None:
                bad += r["best_score"] is not None or r["matched"]
                continue
            # a score within 1e-6 of the threshold may round either way
            matched = r["matched"] if abs(best - PROBE_THRESHOLD) <= 1e-6 else best >= PROBE_THRESHOLD
            bad += (
                r["best_score"] is None
                or abs(r["best_score"] - best) > 1e-6
                or r["matched"] != matched
                or matched and abs(mine.get(r["assigned_cluster"], -1.0) - best) > 1e-6
                or not matched and r["assigned_cluster"] != r["doc_id"]
            )
        return [f"incremental: {bad} of {len(rows)} probe assignments disagree with the oracle"] if bad else []

    def layer_counts(self, rows):
        """Per batch, from the first run of each batch in set-up."""
        self.layers["canonicalize.rows"].append(len(rows))
        self.layers["incremental.candidates"].append(
            sum(len(self._candidates(t)) for t in self._canonical(rows).values())
        )
        self.layers["incremental.matched"].append(sum(r["matched"] for r in rows))
        self.layers["quality.probe_hits"].append(
            sum(r["assigned_cluster"] == self.truth[r["doc_id"]] for r in rows)
        )


WORKLOADS = {w.name: w for w in (SfBanded, SynthCommitted, ProbeIncremental)}


# ---------------------------------------------------------------------------
# independent single-node checks of the reference pass
# ---------------------------------------------------------------------------


def _span_texts(path: Path) -> dict[str, str]:
    t = pq.read_table(path, columns=["doc_id", "spans"]).to_pydict()
    return {doc_id: _text_of(spans) for doc_id, spans in zip(t["doc_id"], t["spans"])}


def _text_of(spans: list[dict]) -> str:
    """The raw text of a spanned document: its text spans in offset order."""
    ordered = sorted(spans, key=lambda s: s["offset"])
    return " ".join(s["text"] for s in ordered if s["kind"] == "text")


def _check_canon(canon: dict, raw: dict) -> list[str]:
    from sneaky_data_matcher_spark.functions.pyoracle import transform

    if set(canon) != {str(k) for k in raw}:
        return ["canonicalize: doc ids differ from the input's"]
    bad = [d for d, text in raw.items() if canon[str(d)][0] != transform(text, ["TLC", "NRM"])]
    return [f"canonicalize: {len(bad)} doc_text values differ from TLC+NRM"] if bad else []


def _doc_keys(text: str, media: list[str], cfg) -> list[str]:
    """A doc's blocking-key rows; a media ref listed twice gives two rows."""
    toks = text.split(" ") if text else []
    keys = [
        "pfx:" + "_".join(t[: cfg.prefix_chars] for t in toks[: cfg.prefix_tokens]),
        "srt:" + "_".join(sorted(set(toks))[: cfg.sorted_tokens]),
    ]
    return [k for k in keys if k not in ("pfx:", "srt:")] + ["med:" + m for m in media if m]


def _check_pairs(pairs: list, canon: dict, cfg, salts) -> list[str]:
    """Every pair of docs in the same block and salt, and nothing else.

    A block of more than ``max_block_size`` key rows is split into
    ceil(size / max_block_size) sub-blocks by the salt that
    ``salts({(doc_id, n_salts), ...})`` returns for each of its docs.
    """
    blocks = defaultdict(list)
    for d, (text, media) in canon.items():
        for k in _doc_keys(text, media, cfg):
            blocks[k].append(d)
    # salts per block: ceil(key rows / max_block_size)
    sizes = {k: -(-len(ds) // cfg.max_block_size) for k, ds in blocks.items()}
    salt = salts({(d, sizes[k]) for k, ds in blocks.items() if sizes[k] > 1 for d in ds})
    expected = set()
    for k, ds in blocks.items():
        sub = defaultdict(set)
        for d in ds:
            sub[salt[d, sizes[k]] if sizes[k] > 1 else 0].add(d)
        for members in sub.values():
            expected.update(itertools.combinations(sorted(members), 2))
    errors = []
    if len(set(pairs)) != len(pairs):
        errors.append("blocking: duplicate candidate pairs")
    missing, extra = len(expected - set(pairs)), len(set(pairs) - expected)
    if missing or extra:
        errors.append(f"blocking: {missing} expected pairs missing, {extra} unexpected pairs")
    return errors


def _check_scores(scored: list, canon: dict, cfg, seed: int) -> list[str]:
    """Recompute the score of a sample of pairs with DuckDB's kernels."""
    sample = random.Random(seed).sample(scored, min(400, len(scored)))
    n = cfg.score_prefix_len
    rows = [
        (r["doc_id_a"], r["doc_id_b"], canon[r["doc_id_a"]][0], canon[r["doc_id_b"]][0],
         canon[r["doc_id_a"]][1], canon[r["doc_id_b"]][1], r["score"])
        for r in sample
    ]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE s(a VARCHAR, b VARCHAR, ta VARCHAR, tb VARCHAR, "
            "ma VARCHAR[], mb VARCHAR[], score DOUBLE)"
        )
        con.executemany("INSERT INTO s VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
        w = cfg.weights
        got = con.execute(
            f"""
            WITH p AS (SELECT *, substr(ta, 1, {n}) AS pa, substr(tb, 1, {n}) AS pb,
                         list_distinct(string_split(ta, ' ')) AS sa,
                         list_distinct(string_split(tb, ' ')) AS sb FROM s)
            SELECT score, {w['jw']} * jaro_winkler_similarity(pa, pb)
              + {w['lev']} * CASE WHEN greatest(length(pa), length(pb)) = 0 THEN 1.0
                  ELSE 1.0 - levenshtein(pa, pb) / greatest(length(pa), length(pb)) END
              + {w['tok']} * len(list_intersect(sa, sb)) / len(list_distinct(sa || sb))
              + {w['med']} * CASE WHEN len(list_intersect(ma, mb)) > 0 THEN 1.0
                  WHEN len(ma) = 0 AND len(mb) = 0 THEN 0.5 ELSE 0.0 END AS oracle
            FROM p
            """
        ).fetchall()
    finally:
        con.close()
    t = cfg.threshold
    bad = [
        (s, o) for s, o in got
        if abs(o - t) > 1e-6 and (s >= t) != (o >= t)
        or s >= t and abs(s - o) > 1e-6
        or not cfg.banded_scoring and abs(s - o) > 1e-6
    ]
    return [f"scoring: {len(bad)} of {len(got)} sampled pairs disagree with the oracle"] if bad else []


def _probe_scores(rows: list) -> dict[str, dict[str, float]]:
    """{doc: {entity: score}} for (doc, entity, doc text, entity text) rows,
    with incremental_match's formula on DuckDB's kernels."""
    if not rows:
        return {}
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE s(d VARCHAR, c VARCHAR, ta VARCHAR, tb VARCHAR)")
        con.executemany("INSERT INTO s VALUES (?, ?, ?, ?)", rows)
        got = con.execute(
            """
            WITH p AS (SELECT *, list_distinct(string_split(ta, ' ')) AS sa,
                              list_distinct(string_split(tb, ' ')) AS sb FROM s)
            SELECT d, c, round(0.4 * round(jaro_winkler_similarity(ta, tb), 6)
              + 0.2 * CASE WHEN greatest(length(ta), length(tb)) = 0 THEN 1.0
                  ELSE 1.0 - levenshtein(ta, tb) / greatest(length(ta), length(tb)) END
              + 0.4 * CASE WHEN len(list_distinct(sa || sb)) = 0 THEN 1.0
                  ELSE len(list_intersect(sa, sb)) / len(list_distinct(sa || sb)) END, 6)
            FROM p
            """
        ).fetchall()
    finally:
        con.close()
    out: dict[str, dict[str, float]] = defaultdict(dict)
    for d, c, score in got:
        out[d][c] = score
    return out


def _check_clusters(clusters: dict, edges: list, canon: dict) -> list[str]:
    if set(clusters) != set(canon):
        return ["clustering: cluster frame does not hold each doc exactly once"]
    parent = {d: d for d in canon}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    bad = sum(clusters[d] != find(d) for d in canon)
    return [f"clustering: {bad} docs not labelled with their component's min id"] if bad else []
