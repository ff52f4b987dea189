"""Resumability + lineage metrics (SURVEY.md §5.5, north-rule checkpoint
requirement): kill between stages, restart, identical clusters, no
recompute of committed stages."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from sneaky_data_matcher_spark.plans import pipeline as P
from sneaky_data_matcher_spark.plans.runs import Run, run_pipeline


@pytest.fixture()
def base_dir(tmp_path):
    d = str(tmp_path / "runs")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_resume_identical_clusters(spark, synth_corpus, base_dir):
    docs, _ = synth_corpus
    cfg = P.PipelineConfig()

    # full run
    full = run_pipeline(spark, docs, base_dir, "run_a", cfg)
    expected = {r["doc_id"]: r["cluster_id"] for r in full["clusters"].collect()}

    # partial run: only first two stages committed, then 'crash'
    run_b = Run(spark, base_dir, "run_b")
    canon = run_b.stage("canon", lambda: P.canonicalize_docs(docs))
    run_b.stage("pairs", lambda: P.build_candidate_pairs(canon, cfg))
    assert sorted(run_b.completed_stages()) == ["canon", "pairs"]

    # restart: canon/pairs must load from committed output, not recompute.
    # Poison the builder to prove the committed path is taken.
    def boom():
        raise AssertionError("stage recomputed despite committed output")

    run_b2 = Run(spark, base_dir, "run_b")
    canon2 = run_b2.stage("canon", boom)
    pairs2 = run_b2.stage("pairs", boom)
    scored2 = run_b2.stage("scored", lambda: P.score_candidates(pairs2, canon2, cfg))
    clusters2 = run_b2.stage("clusters", lambda: P.assign_clusters(scored2, canon2, cfg))
    got = {r["doc_id"]: r["cluster_id"] for r in clusters2.collect()}
    assert got == expected


def test_lineage_metrics_recorded(spark, synth_corpus, base_dir):
    docs, _ = synth_corpus
    out = run_pipeline(spark, docs, base_dir, "run_m", P.PipelineConfig())
    run = out["run"]
    jobs = {r["stage"] for r in run.jobs().collect()}
    assert jobs == {"canon", "pairs", "scored", "clusters"}
    m = run.metrics()
    # per-partition rows sum to stage totals
    per_stage = {
        r["stage"]: r["total"]
        for r in m.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert per_stage["canon"] == out["canon"].count()
    assert per_stage["clusters"] == out["clusters"].count()
    # every metric row carries partition-level lineage
    assert m.where(F.col("partition_id").isNull()).count() == 0
    # each stage's _jobs totals are the sum, count and max of its partitions
    from_parts = {
        r["stage"]: (r["rows"], r["n_partitions"], r["max_partition_rows"])
        for r in m.groupBy("stage")
        .agg(
            F.sum("rows").alias("rows"),
            F.count("*").alias("n_partitions"),
            F.max("rows").alias("max_partition_rows"),
        )
        .collect()
    }
    recorded = {
        r["stage"]: (r["rows"], r["n_partitions"], r["max_partition_rows"])
        for r in run.jobs().collect()
    }
    assert recorded == from_parts


def test_empty_stage_recorded(spark, base_dir):
    """A committed stage with no rows records rows = 0 (not NULL) and
    still counts as completed."""
    run = Run(spark, base_dir, "run_empty")
    out = run.stage("empty", lambda: spark.range(0).withColumnRenamed("id", "doc_id"))
    assert out.count() == 0
    [job] = run.jobs().collect()
    assert job["rows"] == 0
    assert job["n_partitions"] == 0
    assert job["partitions"] == []
    assert run.completed_stages() == ["empty"]
    assert run.metrics().count() == 0


def test_force_recompute(spark, synth_corpus, base_dir):
    docs, _ = synth_corpus
    run = Run(spark, base_dir, "run_f")
    df1 = run.stage("canon", lambda: P.canonicalize_docs(docs).limit(10))
    assert df1.count() == 10
    df2 = run.stage("canon", lambda: P.canonicalize_docs(docs).limit(20), force=True)
    assert df2.count() == 20


def test_run_name_collision_and_force_complete(spark, synth_corpus, base_dir):
    """X1/X3 parity: duplicate run name rejected (the reference's 409);
    force-complete stops further stage computation but committed stages
    stay loadable (SearchService.java:156-160)."""
    import pytest as _pytest

    from sneaky_data_matcher_spark.plans.runs import (
        FINISHED,
        RunExistsError,
        RunForceCompleted,
        create_run,
    )

    docs, _ = synth_corpus
    cfg = P.PipelineConfig()
    run = create_run(spark, base_dir, "run_x", exist_ok=False)
    assert run.status() == "PROCESSING"
    canon = run.stage("canon", lambda: P.canonicalize_docs(docs))

    with _pytest.raises(RunExistsError):
        create_run(spark, base_dir, "run_x", exist_ok=False)

    run.force_complete()
    with _pytest.raises(RunForceCompleted):
        run.stage("pairs", lambda: P.build_candidate_pairs(canon, cfg))
    # committed stage still loads; no recompute attempted
    assert run.stage("canon", lambda: 1 / 0).count() == canon.count()

    run.mark_finished()
    assert run.status() == FINISHED


def test_stable_entity_ids_across_runs(spark, synth_corpus, base_dir):
    """Run the persisted pipeline twice at one base_dir — second run over a
    GROWN corpus — with stable_ids: continuing entities keep their run-1
    entity_id, genuinely new entities mint fresh ones, and the shared
    registry always holds the latest assignment."""
    from sneaky_data_matcher_spark.plans.runs import (
        ENTITY_REGISTRY_TABLE,
    )
    from sneaky_data_matcher_spark.sources.io import TableIO

    docs, _ = synth_corpus
    cfg = P.PipelineConfig()
    # synth doc_ids are strings ('doc_000400') — subset on the last digit
    half = docs.where(F.substring("doc_id", -1, 1).isin("0", "2", "4", "6", "8"))
    r1 = run_pipeline(spark, half, base_dir, "ids_run1", cfg, stable_ids=True)
    ids1 = {r["doc_id"]: r["entity_id"] for r in r1["entity_ids"].collect()}
    assert set(
        r["id_source"] for r in r1["entity_ids"].select("id_source").distinct().collect()
    ) == {"minted"}

    r2 = run_pipeline(spark, docs, base_dir, "ids_run2", cfg, stable_ids=True)
    out2 = r2["entity_ids"].collect()
    ids2 = {r["doc_id"]: r["entity_id"] for r in out2}
    # every run-1 entity that persists keeps its id on its best continuation:
    # docs whose run-2 cluster inherited must carry a run-1 entity id
    inherited = [r for r in out2 if r["id_source"] == "inherited"]
    assert inherited, "grown corpus must inherit at least some ids"
    assert set(r["entity_id"] for r in inherited) <= set(ids1.values())
    # a doc that was a singleton in run 1 and stays a singleton in run 2
    # keeps its exact id
    from collections import Counter

    c1 = Counter(ids1.values())
    singles1 = {d for d, e in ids1.items() if c1[e] == 1 and d == e}
    kept = [d for d in singles1 if ids2.get(d) == ids1[d]]
    assert len(kept) > 0
    # registry reflects run 2
    reg = TableIO(spark, base_dir).load(ENTITY_REGISTRY_TABLE)
    assert reg.count() == len(ids2)
    # uniqueness: no two run-2 clusters share an entity id
    pairs = {(r["cluster_id"], r["entity_id"]) for r in out2}
    ents = [e for _, e in pairs]
    assert len(ents) == len(set(ents))
