"""Seeded benchmark inputs, cached on disk inside the checkout.

Every generated input is a pure function of (workload size, seed) and, for
the labeled corpus, of the generator's source text. A cache entry is a directory keyed by
those; it is written under a temporary name and renamed into place, so a run
that dies half-way never leaves an entry that a later run would trust.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORK_DIR = Path(".bench_build") / "perfbench"
CACHE_DIR = WORK_DIR / "cache"
SYNTH_SRC = Path("sneaky_data_matcher_spark") / "sources" / "synth.py"

# The sf0.1 `documents` table (5,000 flat docs), kept in the benchmark's own
# directory so that a checkout carries it.
SF01_DOCS = Path("perfbench") / "data" / "sf01_documents.parquet"


def synth_hash() -> str:
    return hashlib.sha256(SYNTH_SRC.read_bytes()).hexdigest()[:12]


def cached(key: str, build) -> tuple[Path, bool]:
    """Return (entry dir, built_now). ``build(tmp_dir)`` fills a fresh dir."""
    final = CACHE_DIR / key
    if (final / "_COMPLETE").exists():
        return final, False
    tmp = CACHE_DIR / f".{key}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_COMPLETE").touch()
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final, True


def sf01_documents(n_docs: int | None) -> tuple[Path, bool]:
    """The sf0.1 documents, or (``n_docs``) their first rows, as a parquet path."""
    if n_docs is None:
        return SF01_DOCS, False

    def build(out: Path) -> None:
        pq.write_table(pq.read_table(SF01_DOCS).slice(0, n_docs), out / "documents.parquet")

    entry, built = cached(f"sf01-head-{n_docs}", build)
    return entry / "documents.parquet", built


def synth_corpus(spark, n_docs: int, seed: int, n_probe: int) -> tuple[Path, bool]:
    """Labeled corpus from ``sources.synth.generate_corpus`` split in two.

    ``corpus.parquet`` is what the engine resolves; ``probes.parquet`` holds
    ``n_probe`` documents taken out of it, one non-first member of distinct
    multi-member entities, so each probe's true entity is still present in
    the corpus. ``labels.parquet`` are the generator's labeled pairs among
    corpus documents. All three keep the generator's ``entity_id`` column.
    """
    from sneaky_data_matcher_spark.sources.synth import generate_corpus

    def build(out: Path) -> None:
        docs, labels = (df.toArrow() for df in generate_corpus(spark, n_docs=n_docs, seed=seed))
        members: dict[str, list[str]] = {}
        for doc_id, entity in sorted(zip(docs["doc_id"].to_pylist(), docs["entity_id"].to_pylist())):
            members.setdefault(entity, []).append(doc_id)
        groups = [ids for ids in members.values() if len(ids) > 1]
        rng = random.Random(seed)
        picked = rng.sample(groups, min(n_probe, len(groups)))
        held = pa.array(sorted(rng.choice(ids[1:]) for ids in picked), pa.string())
        is_probe = pc.is_in(docs["doc_id"], value_set=held)
        pq.write_table(docs.filter(pc.invert(is_probe)), out / "corpus.parquet")
        pq.write_table(docs.filter(is_probe), out / "probes.parquet")
        touches = pc.or_(
            pc.is_in(labels["doc_id_a"], value_set=held),
            pc.is_in(labels["doc_id_b"], value_set=held),
        )
        pq.write_table(labels.filter(pc.invert(touches)), out / "labels.parquet")

    return cached(f"synth-{n_docs}-{seed}-{n_probe}-{synth_hash()}", build)
