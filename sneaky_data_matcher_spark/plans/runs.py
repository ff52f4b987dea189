"""Checkpointed, resumable pipeline runs with per-partition lineage metrics.

Generalizes the reference's job-control surface (SURVEY.md §2 X1-X3, A1):
  - Upload/Match progress entities (processed/outOf watermarks,
    entities/MatchEntity.java:5-11, repositories/SearchRepository.java:147-167)
    become the committed stage tables themselves: `jobs()` has one row per
    committed stage with its rows, partition count, largest partition and,
    nested in `partitions`, the (partition_id, rows) count of every write
    task — all read on the driver from the stage's `_SUCCESS` marker and
    parquet footers, as Delta Lake keeps per-file row counts as table
    metadata. Nothing is written besides the stage, so a stage commit is
    one Spark job and a committed stage is always recorded.
  - Resume-by-skipping-processed-rows (services/UploadsService.java:64-71)
    becomes stage-level idempotence: a stage whose committed output exists
    is loaded, not recomputed — atomic commits make row-skipping obsolete.
  - Force-complete (X3) becomes deleting/ignoring downstream stages.

Names starting with `_` are run metadata (the `_status` table), never
stages. `metrics()` unnests `jobs()` to one row per (stage, partition).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import TableIO

STATUS_TABLE = "_status"
ENTITY_REGISTRY_TABLE = "_entity_registry"

PROCESSING = "PROCESSING"
FINISHED = "FINISHED"
FINISHED_WITH_ERROR = "FINISHED_WITH_ERROR"
FORCE_COMPLETED = "FORCE_COMPLETED"

JOBS_SCHEMA = (
    "run_id string, stage string, rows long, n_partitions long, "
    "max_partition_rows long, "
    "partitions array<struct<partition_id: int, rows: long>>, recorded_at double"
)


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
        if name.startswith("_"):
            raise ValueError(f"stage names starting with '_' are reserved: {name!r}")
        if not force and self.io.exists(name):
            return self.io.load(name)
        if self.status() == FORCE_COMPLETED:
            raise RunForceCompleted(self.run_id)
        self.io.save(build(), name)
        return self.io.load(name)

    def completed_stages(self) -> list[str]:
        """Committed stages: the run directory's non-`_` subdirectories
        holding `_SUCCESS`, the check stage() resumes on."""
        if not os.path.isdir(self.io.base):
            return []
        return sorted(
            e.name
            for e in os.scandir(self.io.base)
            if e.is_dir() and not e.name.startswith("_") and self.io.exists(e.name)
        )

    # -- lineage / metrics ---------------------------------------------------

    def jobs(self) -> DataFrame:
        """One row per committed stage, ordered by commit time, built on
        the driver from the stage files (TableIO.commit_layout): no Spark
        job runs until the frame is used."""
        records = []
        for stage in self.completed_stages():
            committed_at, parts = self.io.commit_layout(stage)
            rows = [n for _, n in parts]
            records.append((
                self.run_id, stage, sum(rows), len(rows), max(rows, default=None),
                parts, committed_at,
            ))
        records.sort(key=lambda r: r[-1])
        return self.spark.createDataFrame(records, JOBS_SCHEMA)

    def metrics(self) -> DataFrame:
        """One row per (stage, partition), unnested from `jobs()`."""
        return self.jobs().select(
            "run_id", "stage", F.inline("partitions"), "recorded_at"
        )


def create_run(
    spark: SparkSession, base_dir: str, run_id: str, exist_ok: bool = True
) -> Run:
    """Create (or reopen) a named run. exist_ok=False mirrors the
    reference's duplicate-name 409. A run exists once it has a status
    table or any committed stage; creation writes the PROCESSING status
    row, which is what a later create_run collides on."""
    run = Run(spark, base_dir, run_id)
    exists = run.io.exists(STATUS_TABLE) or bool(run.completed_stages())
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
