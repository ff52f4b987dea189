"""Checkpointed, resumable pipeline runs with per-partition lineage metrics.

Generalizes the reference's job-control surface (SURVEY.md §2 X1-X3, A1):
  - Upload/Match progress entities (processed/outOf watermarks,
    entities/MatchEntity.java:5-11, repositories/SearchRepository.java:147-167)
    become a `_jobs` table with one row per stage commit: the stage's rows,
    partition count, largest partition and, nested in `partitions`, the
    (partition_id, rows) count of every partition.
  - Resume-by-skipping-processed-rows (services/UploadsService.java:64-71)
    becomes stage-level idempotence: a stage whose committed output exists
    is loaded, not recomputed — atomic commits make row-skipping obsolete.
  - Force-complete (X3) becomes deleting/ignoring downstream stages.

A stage commit is recorded by one aggregation over the committed table
(`spark_partition_id()` grouping, map-side) and one append — the census
of rows-per-partition IS the skew report. `metrics()` unnests it to one
row per (stage, partition).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import TableIO

JOBS_TABLE = "_jobs"
STATUS_TABLE = "_status"
ENTITY_REGISTRY_TABLE = "_entity_registry"

PROCESSING = "PROCESSING"
FINISHED = "FINISHED"
FINISHED_WITH_ERROR = "FINISHED_WITH_ERROR"
FORCE_COMPLETED = "FORCE_COMPLETED"


class RunExistsError(RuntimeError):
    """Name collision on run creation — the reference returns 409 on a
    duplicate upload/match name (UploadsService.java:184-194,
    SearchRepository.java:157-159)."""


class RunForceCompleted(RuntimeError):
    """Raised by stage() when the run was force-completed — the probe
    loop's early-exit check (SearchService.java:156-160, X3/L3)."""


class Run:
    """A named, resumable pipeline run rooted at ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.io = TableIO(spark, f"{base_dir.rstrip('/')}/{run_id}")

    # -- lifecycle (X1/X3: UploadDescriptor.Status + Match force-complete) --

    def _set_status(self, status: str) -> None:
        row = self.spark.range(1).select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(status).alias("status"),
            F.lit(float(time.time())).alias("recorded_at"),
        )
        self.io.append(row, STATUS_TABLE)

    def status(self) -> str:
        """Latest lifecycle status (PROCESSING until marked otherwise)."""
        if not self.io.exists(STATUS_TABLE):
            return PROCESSING
        rows = (
            self.io.load(STATUS_TABLE)
            .orderBy(F.desc("recorded_at"))
            .limit(1)
            .collect()
        )
        return rows[0]["status"] if rows else PROCESSING

    def mark_finished(self, error: bool = False) -> None:
        self._set_status(FINISHED_WITH_ERROR if error else FINISHED)

    def force_complete(self) -> None:
        """X3: flag the run; subsequent stage() calls raise instead of
        computing (committed outputs remain loadable)."""
        self._set_status(FORCE_COMPLETED)

    # -- stage orchestration -------------------------------------------------

    def stage(self, name: str, build, force: bool = False) -> DataFrame:
        """Return the stage output, computing + committing it only if no
        committed output exists (resume semantics). ``build`` is a
        zero-arg callable returning the stage DataFrame."""
        if not force and self.io.exists(name):
            return self.io.load(name)
        if self.status() == FORCE_COMPLETED:
            raise RunForceCompleted(self.run_id)
        df = build()
        self.io.save(df, name)
        out = self.io.load(name)
        self._record(name, out)
        return out

    def completed_stages(self) -> list[str]:
        if not self.io.exists(JOBS_TABLE):
            return []
        return [
            r["stage"]
            for r in self.io.load(JOBS_TABLE).select("stage").distinct().collect()
        ]

    # -- lineage / metrics ---------------------------------------------------

    def _record(self, stage: str, df: DataFrame) -> None:
        now = float(time.time())
        per_part = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count("*").alias("rows")
        )
        job = per_part.agg(
            F.lit(self.run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            # a stage with no rows has no partitions to sum
            F.coalesce(F.sum("rows"), F.lit(0)).alias("rows"),
            F.count("*").alias("n_partitions"),
            F.max("rows").alias("max_partition_rows"),
            F.sort_array(F.collect_list(F.struct("partition_id", "rows"))).alias(
                "partitions"
            ),
            F.lit(now).alias("recorded_at"),
        )
        self.io.append(job, JOBS_TABLE)

    def metrics(self) -> DataFrame:
        """One row per (stage, partition), unnested from `_jobs`."""
        return self.jobs().select(
            "run_id", "stage", F.inline("partitions"), "recorded_at"
        )

    def jobs(self) -> DataFrame:
        return self.io.load(JOBS_TABLE)


def create_run(
    spark: SparkSession, base_dir: str, run_id: str, exist_ok: bool = True
) -> Run:
    """Create (or reopen) a named run. exist_ok=False mirrors the
    reference's duplicate-name 409. Existence is detected through TableIO
    (a committed status or jobs table), not the local filesystem, so
    it works for Iceberg-catalog and object-store bases too; creation
    writes the PROCESSING status row, which is what a later create_run
    collides on."""
    run = Run(spark, base_dir, run_id)
    exists = run.io.exists(STATUS_TABLE) or run.io.exists(JOBS_TABLE)
    if exists and not exist_ok:
        raise RunExistsError(run_id)
    if not exists:
        run._set_status(PROCESSING)
    return run


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    base_dir: str,
    run_id: str,
    cfg=None,
    force: bool = False,
    stable_ids: bool = False,
) -> dict[str, DataFrame]:
    """Persisted, resumable variant of plans.pipeline.run: every stage is a
    committed table; a re-run after a crash resumes from the last committed
    stage (tests kill between stages and assert identical clusters).

    ``stable_ids=True`` adds an ``entity_ids`` stage: raw cluster ids are
    carried forward from the LAST EXECUTED pipeline at this ``base_dir``
    via the shared ``_entity_registry`` table (mutual-best overlap,
    operators/entity_ids.py), so downstream consumers can key on
    ``entity_id`` across re-runs and corpus growth. The registry always
    reflects the most recently executed run — resuming an older run
    re-commits that run's (identical) assignment."""
    from . import pipeline as P

    cfg = cfg or P.PipelineConfig()
    run = Run(spark, base_dir, run_id)

    try:
        canon = run.stage("canon", lambda: P.canonicalize_docs(docs), force=force)
        pairs = run.stage("pairs", lambda: P.build_candidate_pairs(canon, cfg), force=force)
        scored = run.stage("scored", lambda: P.score_candidates(pairs, canon, cfg), force=force)
        clusters = run.stage("clusters", lambda: P.assign_clusters(scored, canon, cfg), force=force)
        entity_ids = None
        if stable_ids:
            registry = TableIO(spark, base_dir)

            def build_ids():
                from ..operators.entity_ids import persistent_entity_ids

                if registry.exists(ENTITY_REGISTRY_TABLE):
                    prev = registry.load(ENTITY_REGISTRY_TABLE).select(
                        "doc_id", "entity_id"
                    )
                    return persistent_entity_ids(prev, clusters)
                return clusters.select(
                    "doc_id",
                    "cluster_id",
                    F.col("cluster_id").alias("entity_id"),
                    F.lit("minted").alias("id_source"),
                )

            entity_ids = run.stage("entity_ids", build_ids, force=force)
            # entity_ids is re-loaded from the per-run stage table, so this
            # overwrite never reads the table it replaces
            registry.save(
                entity_ids.select("doc_id", "entity_id"), ENTITY_REGISTRY_TABLE
            )
    except RunForceCompleted:
        raise
    except Exception:
        # best-effort status write: if the session itself died, recording
        # the error status would raise too and mask the root cause
        try:
            run.mark_finished(error=True)
        except Exception:
            pass
        raise
    # don't clear an operator's force-complete flag on a pure resume
    if run.status() != FORCE_COMPLETED:
        run.mark_finished()
    out = {
        "canon": canon,
        "pairs": pairs,
        "scored": scored,
        "clusters": clusters,
        "run": run,
    }
    if stable_ids:
        out["entity_ids"] = entity_ids
    return out
