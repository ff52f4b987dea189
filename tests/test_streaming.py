"""Structured Streaming: windowed aggregation equals its batch twin;
stream-static probe match; streaming canonicalization parity."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sneaky_data_matcher_spark.plans.pipeline import canonicalize_docs
from sneaky_data_matcher_spark.sources.spans import derive_spans
from sneaky_data_matcher_spark.streaming import incremental as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    d = tempfile.mkdtemp()
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_windowed_counts_match_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    got = S.run_stream_to_memory(
        spark, S.windowed_event_counts(stream), "win_test", output_mode="complete"
    )
    want = S.windowed_event_counts(batch.withColumn("ts", F.col("ts").cast("timestamp")))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_streaming_session_stats_match_batch(spark, events_dir):
    from sneaky_data_matcher_spark.operators.sessions import session_stats

    batch = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    got = S.run_stream_to_memory(
        spark,
        S.streaming_session_stats(stream, gap_s=600, watermark="0 seconds"),
        "sess_test",
        output_mode="append",
    )
    # append mode emits CLOSED sessions: last_event + gap <= watermark
    # (= global max ts at 0s delay); filter the batch twin identically
    mx = batch.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
    ).collect()[0][0]
    last_us = (
        F.unix_micros(F.col("session_start").cast("timestamp"))
        + (F.col("duration_s") * 1_000_000).cast("long")
    )
    want = session_stats(batch, gap_s=600).where(last_us + 600 * 1_000_000 <= mx)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0
    # exactly one session (the one holding the global max event) stays open
    assert session_stats(batch, gap_s=600).count() == len(g) + 1


def test_stream_probe_match_finds_all(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spans = derive_spans(docs)
    canon = canonicalize_docs(spans)
    d = tempfile.mkdtemp()
    try:
        spans.limit(40).write.mode("overwrite").parquet(d)
        pstream = S.stream_canonicalize(spark, d)
        out = S.run_stream_to_memory(
            spark, S.stream_probe_match(pstream, canon), "probe_test"
        )
        rows = out.collect()
        # every probe doc matches at least itself (identical canonical text)
        assert {r["probe_doc_id"] for r in rows} == {
            r["doc_id"] for r in spark.read.parquet(d).select("doc_id").collect()
        }
        by_self = {r["probe_doc_id"] == r["corpus_doc_id"] for r in rows}
        assert True in by_self
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_candidate_pairs_match_batch(spark):
    """applyInPandasWithState incremental pair generation over a 2-batch
    document stream must emit exactly the batch block-self-join pair set
    (after cross-pass dedup, which both paths do downstream)."""
    from sneaky_data_matcher_spark.operators import blocking

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    spans = derive_spans(docs)
    canon = canonicalize_docs(spans).localCheckpoint(eager=True)

    # batch reference: unsalted candidate pairs
    keys = blocking.blocking_keys(canon)
    salted = keys.withColumn("salt", F.lit(0))
    want = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in blocking.candidate_pairs(salted, cache=False).collect()
    }

    d = tempfile.mkdtemp()
    try:
        # two files + maxFilesPerTrigger=1 -> two micro-batches, so pair
        # emission genuinely spans state updates
        spans.limit(30).write.mode("overwrite").parquet(f"{d}/b0")
        import pyspark.sql.functions as SF
        spans.join(spans.limit(30).select("doc_id"), "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{d}/b1")
        schema = spark.read.parquet(f"{d}/b0").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/*")
        )
        keyed = blocking.blocking_keys(
            canonicalize_docs(stream), payload_cols=["doc_text"]
        )
        pairs = S.streaming_candidate_pairs(keyed)
        got_df = S.run_stream_to_memory(spark, pairs, "stream_pairs_test")
        got = {(r["doc_id_a"], r["doc_id_b"]) for r in got_df.collect()}
        assert got == want and len(want) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_cc_matches_batch(spark):
    """Folding edges in two micro-batch-sized increments through
    incremental_cc_update must equal batch connected components over the
    union of all edges."""
    from sneaky_data_matcher_spark.operators.clustering import connected_components
    from sneaky_data_matcher_spark.sources.io import TableIO

    edges = [
        ("a", "b"), ("c", "d"), ("e", "f"),           # batch 1: three clusters
        ("b", "c"), ("x", "y"), ("f", "g"),           # batch 2: merge + new
    ]
    df = spark.createDataFrame(edges, "doc_id_a string, doc_id_b string")
    base = tempfile.mkdtemp()
    try:
        io = TableIO(spark, base)
        S.incremental_cc_update(io, df.limit(3))
        S.incremental_cc_update(io, df.subtract(df.limit(3)))
        got = {
            (r["doc_id"], r["cluster_id"]) for r in io.load("clusters").collect()
        }
        want = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(df).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_incremental_cluster_stream_e2e(spark):
    """Full streaming path: edges arrive as a 2-file stream, foreachBatch
    maintains the clusters table; final table equals batch CC."""
    from sneaky_data_matcher_spark.operators.clustering import connected_components
    from sneaky_data_matcher_spark.sources.io import TableIO

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("p", "q"), ("q", "r"), ("c", "p")],
        "doc_id_a string, doc_id_b string",
    )
    d = tempfile.mkdtemp()
    try:
        df.limit(2).write.mode("overwrite").parquet(f"{d}/edges/b0")
        df.subtract(df.limit(2)).write.mode("overwrite").parquet(f"{d}/edges/b1")
        schema = spark.read.parquet(f"{d}/edges/b0").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/edges/*")
        )
        io = TableIO(spark, f"{d}/state")
        q = S.incremental_cluster_stream(
            stream, io, checkpoint_dir=f"{d}/ckpt"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {(r["doc_id"], r["cluster_id"]) for r in io.load("clusters").collect()}
        want = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(df).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_er_topology_matches_batch(spark):
    """Full streaming ER (canonicalize -> stateful pair gen -> scoring ->
    incremental CC) over a 2-batch document stream must produce exactly
    the batch pipeline's non-singleton clusters (salting off on both
    sides; the streaming path never salts)."""
    from sneaky_data_matcher_spark.plans import pipeline as P
    from sneaky_data_matcher_spark.sources.io import TableIO

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spans = derive_spans(docs).localCheckpoint(eager=True)
    cfg = P.PipelineConfig(threshold=0.85, salting_enabled=False)
    batch = P.run(spans, cfg)
    sizes = batch["clusters"].groupBy("cluster_id").count()
    multi = (
        batch["clusters"]
        .join(sizes.where(F.col("count") > 1), "cluster_id")
        .select("doc_id", "cluster_id")
    )
    want = {(r["doc_id"], r["cluster_id"]) for r in multi.collect()}
    assert len(want) > 0  # corpus must actually contain duplicates

    d = tempfile.mkdtemp()
    try:
        half = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
        spans.where(half).write.mode("overwrite").parquet(f"{d}/in/b0")
        spans.where(~half).write.mode("overwrite").parquet(f"{d}/in/b1")
        schema = spark.read.parquet(f"{d}/in/b0").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in/*")
        )
        io = TableIO(spark, f"{d}/state")
        q = S.streaming_er_topology(stream, io, cfg, checkpoint_dir=f"{d}/ckpt")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {(r["doc_id"], r["cluster_id"]) for r in io.load("clusters").collect()}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# State bounding (r2): retention cap + TTL eviction + stream salting
# ---------------------------------------------------------------------------


class _FakeState:
    """Minimal GroupState double for driving _make_gen_pairs_fn directly."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def _drive(fn, state, ids):
    import pandas as pd

    out = list(
        fn(
            ("p", "blk"),
            iter([pd.DataFrame({"doc_id": ids, "doc_text": [f"t {i}" for i in ids]})]),
            state,
        )
    )
    return sum(len(o) for o in out)


def test_gen_pairs_state_cap_bounds_payload():
    """Hot block: per-block RETAINED payload state must never exceed the
    cap; later arrivals emit pairs only vs the retained prefix + their own
    micro-batch cohort (the analogue of test_salting_bounds_block_size
    for the streaming path)."""
    fn = S._make_gen_pairs_fn(max_state_per_block=10, state_ttl_ms=None)
    st = _FakeState()
    n1 = _drive(fn, st, [f"d{i:02d}" for i in range(10)])
    assert n1 == 45  # C(10,2)
    n2 = _drive(fn, st, [f"d{i:02d}" for i in range(10, 25)])
    assert n2 == 15 * 10 + 105  # new x retained + C(15,2)
    n3 = _drive(fn, st, [f"d{i:02d}" for i in range(25, 30)])
    assert n3 == 5 * 10 + 10  # retained is STILL the first 10, not 25
    ids, texts = st.get
    assert len(ids) == 30  # ids kept for exactly-once
    assert sum(t is not None for t in texts) == 10  # payload hard-bounded


def test_gen_pairs_ttl_timeout_evicts():
    fn = S._make_gen_pairs_fn(max_state_per_block=None, state_ttl_ms=60_000)
    st = _FakeState()
    _drive(fn, st, ["a", "b"])
    assert st.timeout_set == 60_000
    st.hasTimedOut = True
    out = list(fn(("p", "blk"), iter([]), st))
    assert st.removed and out == []


def test_state_cap_through_real_groupstate(spark):
    """End-to-end applyInPandasWithState with max_state_per_block set
    (ADVICE r2): the None-padded texts array must round-trip through
    Spark's real state (de)serialization across micro-batches, and the
    emitted pair counts must show retention pinned at the cap.

    Three equal-size batches of one block, cap < batch size: whatever the
    batch arrival order, total pairs = 3*C(n,2) (within-cohort) + 2*n*cap
    (new x retained, retention capped after the first batch)."""
    n, cap = 6, 4
    schema = "doc_id string, doc_text string, pass string, block_key string"
    d = tempfile.mkdtemp()
    try:
        for b in range(3):
            rows = [
                (f"b{b}d{i}", f"text {b} {i}", "p0", "blk") for i in range(n)
            ]
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{d}/b{b}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/*")
        )
        # cap only — state_ttl_ms would put the query in ProcessingTime-
        # timeout mode, where Spark schedules timeout-check batches forever
        # and processAllAvailable never drains (see PipelineConfig notes)
        pairs = S.streaming_candidate_pairs(stream, max_state_per_block=cap)
        got = S.run_stream_to_memory(spark, pairs, "state_cap_real_test")
        rows = got.collect()
        import math

        want_total = 3 * math.comb(n, 2) + 2 * n * cap
        assert len(rows) == want_total, (len(rows), want_total)
        assert len({(r["doc_id_a"], r["doc_id_b"]) for r in rows}) == want_total
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_topology_salted_matches_batch_salted(spark):
    """Scale-safe flagship path: census-fed salting + state caps + trimmed
    payload, end to end. A corpus with one genuinely hot block, salted via
    hot_block_census, must produce EXACTLY the batch salted pipeline's
    non-singleton clusters (same salt arithmetic -> same surviving pairs),
    while the census proves the hot block actually split."""
    from sneaky_data_matcher_spark.plans import pipeline as P
    from sneaky_data_matcher_spark.sources.io import TableIO

    # 30 duplicate pairs sharing a hot pfx block ("hot start ..." x60);
    # each pair's srt key is distinctive, so true pairs survive salting
    # via the multi-pass design (the same guarantee the batch skew test
    # asserts).
    rows = []
    for i in range(30):
        for side in ("a", "b"):
            rows.append((f"{i:03d}{side}", f"hot start unique{i:02d} tail{i:02d}"))
    spans = spark.createDataFrame(rows, "doc_id string, text string").select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    ).localCheckpoint(eager=True)

    cfg = P.PipelineConfig(threshold=0.85, max_block_size=10)
    batch = P.run(spans, cfg)
    sizes = batch["clusters"].groupBy("cluster_id").count()
    multi = (
        batch["clusters"]
        .join(sizes.where(F.col("count") > 1), "cluster_id")
        .select("doc_id", "cluster_id")
    )
    want = {(r["doc_id"], r["cluster_id"]) for r in multi.collect()}
    assert len(want) == 60  # all 30 duplicate pairs must cluster

    census = S.hot_block_census(canonicalize_docs(spans), cfg)
    hot = census.collect()
    assert any(r["n_salts"] > 1 for r in hot)  # the pfx block is genuinely hot

    d = tempfile.mkdtemp()
    try:
        half = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
        spans.where(half).write.mode("overwrite").parquet(f"{d}/in/b0")
        spans.where(~half).write.mode("overwrite").parquet(f"{d}/in/b1")
        schema = spark.read.parquet(f"{d}/in/b0").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in/*")
        )
        io = TableIO(spark, f"{d}/state")
        q = S.streaming_er_topology(
            stream, io, cfg, checkpoint_dir=f"{d}/ckpt",
            hot_blocks=census.localCheckpoint(eager=True),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {(r["doc_id"], r["cluster_id"]) for r in io.load("clusters").collect()}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_salt_keyed_stream_splits_hot_block(spark):
    """Streaming salting: hot blocks split into per-salt sub-blocks (pairs
    only within a salt — batch salt_keys' recall trade), cold blocks pass
    through complete."""
    rows = [(f"h{i:02d}", f"text {i}", "p0", "hot") for i in range(18)] + [
        (f"c{i}", f"cold {i}", "p0", "cold") for i in range(5)
    ]
    schema = "doc_id string, doc_text string, pass string, block_key string"
    hot_blocks = spark.createDataFrame([("p0", "hot", 3)], "pass string, block_key string, n_salts int")

    d = tempfile.mkdtemp()
    try:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(schema).parquet(d)
        keyed = S.salt_keyed_stream(stream, hot_blocks)
        got_df = S.run_stream_to_memory(spark, S.streaming_candidate_pairs(keyed), "salt_stream_test")
        got = {(r["doc_id_a"], r["doc_id_b"]) for r in got_df.collect()}

        # expected: within-salt hot pairs (same salt expression, batch side)
        salted = spark.createDataFrame(rows, schema).select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).alias("salt")
        ).collect()
        by_salt = {}
        for r in salted:
            if r["doc_id"].startswith("h"):
                by_salt.setdefault(r["salt"], []).append(r["doc_id"])
        want = set()
        for grp in by_salt.values():
            grp = sorted(grp)
            want |= {(a, b) for i, a in enumerate(grp) for b in grp[i + 1 :]}
        cold = sorted(r[0] for r in rows if r[0].startswith("c"))
        want |= {(a, b) for i, a in enumerate(cold) for b in cold[i + 1 :]}
        assert got == want
        assert len(by_salt) > 1  # the hot block genuinely split
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_dedup_within_watermark(spark):
    # 3 copies of each key inside the delay window -> one emission per key;
    # the plan must carry watermark-bounded dedup state (not global dedup)
    import datetime as dt

    d = tempfile.mkdtemp()
    try:
        t0 = dt.datetime(2026, 1, 1)
        rows = [
            (k, t0 + dt.timedelta(seconds=k * 60 + c), f"p{k}")
            for k in range(20)
            for c in range(3)
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, payload string"
        ).write.mode("overwrite").parquet(f"{d}/in")
        schema = spark.read.parquet(f"{d}/in").schema
        stream = spark.readStream.schema(schema).parquet(f"{d}/in")
        deduped = S.streaming_dedup(stream, ["event_id"], "ts", "1 hour")
        logical = deduped._jdf.queryExecution().logical().toString()
        assert "DeduplicateWithinWatermark" in logical  # bounded, not global
        out = S.run_stream_to_memory(spark, deduped, "sd_test_sink")
        got = sorted(r["event_id"] for r in out.collect())
        assert got == list(range(20))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_attribution_interval_bounds(spark):
    """Crafted micro-streams: only purchases strictly after a view and
    within the window attribute to it; boundary cases exact."""
    rows_v = [
        (1, "2024-01-01 10:00:00", 7, "view", 0.0, ""),
    ]
    rows_b = [
        (10, "2024-01-01 10:00:00", 7, "purchase", 1.0, ""),  # same instant: excluded
        (11, "2024-01-01 11:59:59", 7, "purchase", 1.0, ""),  # inside
        (12, "2024-01-01 12:00:00", 7, "purchase", 1.0, ""),  # exactly +2h: included (<=)
        (13, "2024-01-01 12:00:01", 7, "purchase", 1.0, ""),  # past window
        (14, "2024-01-01 11:00:00", 8, "purchase", 1.0, ""),  # other user
    ]
    schema = "event_id long, ts string, user_id long, event_type string, value double, props string"
    d = tempfile.mkdtemp()
    try:
        df = spark.createDataFrame(rows_v + rows_b, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.write.parquet(f"{d}/events.parquet")
        # the crafted table is a DIRECTORY of part files (unlike the
        # driver's single-file events.parquet), so stream the dir itself
        src = lambda: spark.readStream.schema(
            spark.read.parquet(f"{d}/events.parquet").schema
        ).parquet(f"{d}/events.parquet")
        j = S.stream_stream_attribution(
            src().where(F.col("event_type") == "view"),
            src().where(F.col("event_type") == "purchase"),
            window="2 hours",
        )
        out = S.run_stream_to_memory(
            spark, j, "ss_attr_test", output_mode="append"
        ).collect()
        got = {(r["view_id"], r["buy_id"]): r["lag_us"] for r in out}
        assert set(got) == {(1, 11), (1, 12)}
        assert got[(1, 12)] == 2 * 3600 * 1_000_000
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_join_is_stateful_with_watermarks(spark, events_dir):
    """The physical streaming plan must be a genuine stream-stream join
    (StreamingSymmetricHashJoin) with watermarks on BOTH sides — not a
    silently planned batch join."""
    schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    src = lambda: spark.readStream.schema(schema).parquet(events_dir)
    j = S.stream_stream_attribution(
        src().where(F.col("event_type") == "view"),
        src().where(F.col("event_type") == "purchase"),
    )
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_plan_probe")
        .start()
    )
    try:
        q.processAllAvailable()
        plan = q.explain  # lastExecution after at least one batch
        physical = q.lastProgress
        assert physical is not None
        ops = physical["stateOperators"]
        assert any("symmetricHashJoin" in (o.get("operatorName") or "") for o in ops)
    finally:
        q.stop()


def test_streaming_token_counts_equals_batch(spark, tmp_path):
    """Update-mode stateful token census across MULTIPLE micro-batches
    equals the batch census; per-token max over emitted updates is the
    final state (counts are monotone)."""
    from sneaky_data_matcher_spark.streaming.incremental import (
        run_stream_to_memory,
        streaming_token_counts,
    )

    rows1 = [(1, "a b a"), (2, "b c")]
    rows2 = [(3, "a  B"), (4, "c c d")]
    d = str(tmp_path / "toks")
    spark.createDataFrame(rows1, "doc_id int, text string").write.parquet(
        d, mode="overwrite"
    )
    spark.createDataFrame(rows2, "doc_id int, text string").coalesce(1).write.mode(
        "append"
    ).parquet(d)
    stream = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = run_stream_to_memory(
        spark, streaming_token_counts(stream), "tok_census_sink", output_mode="update"
    )
    final = {
        r.token: r.n
        for r in out.groupBy("token").agg(F.max("n").alias("n")).collect()
    }
    assert final == {"a": 3, "b": 3, "c": 3, "d": 1}


def test_streaming_er_topology_banded_matches_batch(spark):
    """Banded scoring in the STREAMING topology (cheap-term bound skips
    the DuckDB edit-distance kernels per micro-batch) must still produce
    exactly the batch pipeline's non-singleton clusters."""
    from sneaky_data_matcher_spark.plans import pipeline as P
    from sneaky_data_matcher_spark.sources.io import TableIO

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spans = derive_spans(docs).localCheckpoint(eager=True)
    cfg = P.PipelineConfig(
        threshold=0.85, salting_enabled=False, banded_scoring=True
    )
    batch = P.run(spans, P.PipelineConfig(threshold=0.85, salting_enabled=False))
    sizes = batch["clusters"].groupBy("cluster_id").count()
    multi = (
        batch["clusters"]
        .join(sizes.where(F.col("count") > 1), "cluster_id")
        .select("doc_id", "cluster_id")
    )
    want = {(r["doc_id"], r["cluster_id"]) for r in multi.collect()}

    d = tempfile.mkdtemp()
    try:
        half = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
        spans.where(half).write.mode("overwrite").parquet(f"{d}/in/b0")
        spans.where(~half).write.mode("overwrite").parquet(f"{d}/in/b1")
        schema = spark.read.parquet(f"{d}/in/b0").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in/*")
        )
        io = TableIO(spark, f"{d}/state")
        q = S.streaming_er_topology(stream, io, cfg, checkpoint_dir=f"{d}/ckpt")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {(r["doc_id"], r["cluster_id"]) for r in io.load("clusters").collect()}
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("band_threshold", [None, 0.62])
def test_stream_scoring_matches_batch_on_non_ascii(spark, band_threshold):
    """The stream's JSON payload, decoded, must give attach_payload's
    columns value for value on accented, non-BMP and CJK text and empty
    media, so the batch scorer gives the same scores on both, in full and
    banded mode."""
    from sneaky_data_matcher_spark.operators.scoring import (
        DEFAULT_THRESHOLD,
        DEFAULT_WEIGHTS,
        attach_payload,
        score_pairs_fused,
        scoring_payload,
    )

    texts = [
        ("1", "2", "café noir crème", "cafe noir creme"),
        ("3", "4", "naïve résumé über", "naive resume uber"),
        ("5", "6", "𝔘nicode 😀 grin face", "unicode 😁 grin face"),
        ("7", "8", "東京 タワー 展望台", "東京 タワ 展望台"),
        ("9", "10", "zebra quartz", "apple mango"),  # pruned when banded
    ]
    canon = spark.createDataFrame(
        [(i, t, []) for a, b, ta, tb in texts for i, t in ((a, ta), (b, tb))],
        "doc_id string, doc_text string, media_refs array<string>",
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b, _, _ in texts], "doc_id_a string, doc_id_b string"
    )
    cols = [
        "doc_id_a", "doc_id_b", "pfx_a", "toks_a", "media_refs_a",
        "pfx_b", "toks_b", "media_refs_b",
    ]
    batch = attach_payload(pairs, canon).select(*cols)
    # the topology's encoding: one JSON payload per doc, carried as text_*
    enc = scoring_payload(canon).select(
        "doc_id", F.to_json(F.struct("pfx", "toks", "media_refs")).alias("t")
    )
    sides = [
        enc.select(F.col("doc_id").alias(f"doc_id_{s}"), F.col("t").alias(f"text_{s}"))
        for s in ("a", "b")
    ]
    decoded = S._decode_payload(pairs.join(sides[0], "doc_id_a").join(sides[1], "doc_id_b"))
    assert decoded.columns == cols
    assert sorted(decoded.collect()) == sorted(batch.collect())

    def scores(df):
        return {
            (r["doc_id_a"], r["doc_id_b"]): r["score"]
            for r in score_pairs_fused(df, DEFAULT_WEIGHTS, band_threshold).collect()
        }

    want = scores(batch)
    assert scores(decoded) == want
    assert want[("1", "2")] >= DEFAULT_THRESHOLD
