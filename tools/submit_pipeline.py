"""spark-submit entry point for the full record-linkage pipeline.

North-star launch mode: the engine ships as a zip on --py-files and this
script is the job file. Example (what tools/run_submit_demo.sh does):

    cd /root/repo && zip -qr /tmp/smsp.zip sneaky_data_matcher_spark
    spark-submit --master 'local[8]' --py-files /tmp/smsp.zip \
        tools/submit_pipeline.py <docs_parquet> <out_dir> [run_id]

On a real cluster only --master/--deploy-mode change; the job itself is
identical (session config comes from spark-submit, not from session.py).
Stages are committed tables under <out_dir>/<run_id>; re-submitting after a
failure resumes from the last committed stage (plans/runs.py).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    docs_path, out_dir = argv[0], argv[1]
    run_id = argv[2] if len(argv) > 2 else "submit_run"

    spark = SparkSession.builder.appName("sneaky-matcher-pipeline").getOrCreate()
    from sneaky_data_matcher_spark.plans.runs import run_pipeline
    from sneaky_data_matcher_spark.sources.io import load_docs

    out = run_pipeline(spark, load_docs(spark, docs_path), out_dir, run_id)
    summary = {
        "run_id": run_id,
        "stages": out["run"].completed_stages(),
        "n_docs": out["canon"].count(),
        "n_pairs": out["scored"].count(),
        "n_clusters": out["clusters"].select("cluster_id").distinct().count(),
    }
    print(json.dumps(summary, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
