"""Physical-plan audit: print `explain(formatted)` for the flagship stages
and spot-check scale-critical plan properties.

Checks (scale hygiene, SURVEY.md §4):
  - parquet scans carry PushedFilters / pruned ReadSchema where expected
  - the probe/dimension joins broadcast the small side
  - pair scoring stays inside WholeStageCodegen except the one Arrow UDF
  - the candidate self-join partitions on (pass, block_key, salt)

Usage: python tools/explain_plans.py [--write PLANS.md]
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"


def _fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from sneaky_data_matcher_spark.plans import pipeline as P
    from sneaky_data_matcher_spark.session import get_spark
    from sneaky_data_matcher_spark.sources.spans import derive_spans

    spark = get_spark(app_name="explain")
    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cfg = P.PipelineConfig()
    canon = P.canonicalize_docs(derive_spans(docs))
    pairs = P.build_candidate_pairs(canon, cfg)
    scored = P.score_candidates(pairs, canon, cfg)

    plan = _fmt(canon)
    sections.append((
        "canonicalize (spans -> doc_text/media_refs)", plan,
        [("column-pruned scan reads only needed cols",
          "ReadSchema" in plan and "text" in plan),
         # higher-order array exprs (transform/filter/array_sort) are not
         # codegen'd by Spark but evaluate JVM-side; the scale property that
         # matters is NO Python/Arrow boundary in canonicalization
         ("no Python/Arrow boundary (all JVM-side)",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    plan = _fmt(pairs)
    sections.append((
        "blocking: salted candidate self-join", plan,
        [("self-join partitioned on (pass, block_key, salt)",
          "block_key" in plan and "salt" in plan),
         ("map-side partial agg before census shuffle",
          "partial_count" in plan or "HashAggregate" in plan)],
    ))

    plan = _fmt(scored)
    sections.append((
        "pair scoring (one Arrow UDF, rest codegen)", plan,
        [("single Arrow/pandas eval node for Jaro-Winkler",
          # formatted explain lists each node in the tree AND the detail
          # section -> one physical node appears twice in the text
          len(set(__import__("re").findall(r"ArrowEvalPython \(\d+\)", plan))) == 1),
         ("native levenshtein in codegen", "levenshtein" in plan)],
    ))

    # filter pushdown on the flat documents scan
    filt = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _fmt(filt)
    sections.append((
        "filtered scan (pushdown + pruning)", plan,
        [("filter pushed to parquet", "PushedFilters: [IsNotNull(lang)" in plan
          or "EqualTo(lang,en)" in plan),
         ("schema pruned to 2 cols",
          "ReadSchema: struct<doc_id:bigint,lang:string>" in plan)],
    ))

    # broadcast of the small dim in the probe-style join
    q = E.queries()["join_agg_segments"](spark, SF)
    plan = _fmt(q)
    sections.append((
        "dim join (customer broadcast)", plan,
        [("broadcast hash join", "BroadcastHashJoin" in plan)],
    ))

    import re as _re

    # r2 perf fix #1: IVF centroid assignment is map-side — the only Window
    # left is the final per-query top-k; centroids ride as broadcasts.
    plan = _fmt(E.queries()["ann_ivf_topk"](spark, SF))
    sections.append((
        "ivf_topk (map-side centroid assignment)", plan,
        [("exactly ONE window (top-k only; no per-vector argmax windows)",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 1),
         ("centroid set broadcast (no n x k row blowup shuffle)",
          "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan)],
    ))

    # r2 perf fix #2: LSH bucket-hit dedup runs on BARE id pairs — vectors
    # join on after the distinct, so duplicates never carry embeddings.
    plan = _fmt(E.queries()["ann_lsh_topk"](spark, SF))
    sections.append((
        "lsh_topk (bare-id-pair dedup before vector attach)", plan,
        [("dedup aggregate keys are exactly (query_id, neighbor_id)",
          bool(_re.search(r"Keys \[2\]: \[query_id#\d+L?, neighbor_id#\d+L?\]", plan))),
         ("one window for final top-k",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 1)],
    ))

    # r3: PQ ADC — encode is map-side (codebook broadcast; argmin in
    # codegen), the query side is broadcast into the code scan, and the
    # only Window is the final per-query top-k.
    plan = _fmt(E.queries()["ann_pq_topk"](spark, SF))
    sections.append((
        "pq_topk (map-side encode, broadcast ADC tables)", plan,
        [("codebook + query tables broadcast", "BroadcastExchange" in plan
          or "BroadcastNestedLoopJoin" in plan),
         ("one window for final top-k",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 1),
         ("exactly one hash-partitioned exchange (the top-k window's; encode "
          "+ ADC shuffle nothing but the two tiny codebook collect_list aggs)",
          plan.count("hashpartitioning(") == 1)],
    ))

    # r3 ops: pii_scan is a pure projection (no shuffle, no Python);
    # line_dedup aggregates with map-side combine and rebuilds order via
    # array_sort (no Window over the corpus); golden_records is a single
    # max(struct) agg with partial aggregation (no Window).
    plan = _fmt(E.queries()["pii_scan"](spark, SF))
    sections.append((
        "pii_scan (pure map stage)", plan,
        [("no shuffle (pipelines with the scan)", "Exchange" not in plan),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    plan = _fmt(E.queries()["line_dedup"](spark, SF))
    sections.append((
        "line_dedup (census + ordered rebuild)", plan,
        [("no window over the corpus",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 0),
         ("map-side partial agg before the census shuffle",
          "partial_count" in plan),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    from sneaky_data_matcher_spark.operators.clustering import golden_records

    cl = spark.createDataFrame([(1, 1)], "doc_id long, cluster_id long")
    dc = spark.createDataFrame([(1, "t")], "doc_id long, doc_text string")
    plan = _fmt(golden_records(cl, dc))
    sections.append((
        "golden_records (max-struct agg, no window)", plan,
        [("no window (survivorship via partial-aggregable max(struct))",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 0),
         ("map-side partial max before the cluster shuffle",
          "partial_max" in plan or "partial_count" in plan)],
    ))

    # PPRL: the exact dice join shuffles bare (id, id) pairs with a
    # map-side partial count (the inverted-index explode never carries
    # the CLK arrays into the pair shuffle); HLSH dedups bare id pairs
    # BEFORE the CLK arrays join on for verification.
    plan = _fmt(E.queries()["pprl_dice_pairs"](spark, SF))
    sections.append((
        "pprl_dice_pairs (bare-id inverted-index join)", plan,
        [("pair agg keys are exactly the two bare id columns",
          bool(_re.search(
              r"Keys \[2\]: \[(?:doc_id_a#\d+L?, doc_id_b#\d+L?"
              r"|doc_id#\d+L?, doc_id#\d+L?)\]", plan))),
         ("map-side partial count before the pair shuffle",
          "partial_count" in plan),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    plan = _fmt(E.queries()["pprl_hlsh_dice"](spark, SF))
    sections.append((
        "pprl_hlsh_dice (bucket-then-verify)", plan,
        [("candidate dedup on bare ids (CLKs attach after distinct)",
          bool(_re.search(r"Keys \[2\]: \[doc_id_a#\d+L?, doc_id_b#\d+L?\]", plan))),
         ("no window, no Python boundary",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 0
          and "ArrowEvalPython" not in plan)],
    ))

    # Repeated k-gram spans: census with map-side partial count, the
    # islands window partitioned by doc_id (bounded per-doc state), no
    # Python boundary anywhere.
    plan = _fmt(E.queries()["dup_span_detect"](spark, SF))
    sections.append((
        "dup_span_detect (k-gram census + islands merge)", plan,
        [("map-side partial count before the census shuffle",
          "partial_count" in plan),
         ("islands window partitioned by doc_id only",
          bool(_re.search(r"windowspecdefinition\(doc_id#\d+L?, start#\d+", plan))
          and not _re.search(r"windowspecdefinition\((?!doc_id#)", plan)),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    # r3 — SCD2 assembly: gaps-and-islands must cost exactly ONE exchange
    # (the alias-induced 3-exchange regression is the thing this guards).
    plan = _fmt(E.queries()["scd2_intervals"](spark, SF))
    sections.append((
        "scd2_intervals (gaps-and-islands SCD2)", plan,
        [("exactly one exchange",
          len(_re.findall(r"\(\d+\) Exchange\b", plan)) == 1),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    # r3 — bucketed range join: the rewrite's whole point is that no
    # nested-loop/cartesian operator appears for a range predicate.
    plan = _fmt(E.queries()["temporal_dim_lookup"](spark, SF))
    sections.append((
        "temporal_dim_lookup (bucketed interval join)", plan,
        [("no BroadcastNestedLoopJoin", "BroadcastNestedLoop" not in plan),
         ("no CartesianProduct", "CartesianProduct" not in plan)],
    ))

    # r3 — edit-distance join: equi-join shapes only; levenshtein must
    # run AFTER candidate generation (inside a projection/filter, once).
    plan = _fmt(E.queries()["edit_distance_join"](spark, SF))
    sections.append((
        "edit_distance_join (EDJoin filters + verify)", plan,
        [("no CartesianProduct / nested loop",
          "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan),
         ("levenshtein verify present exactly once in the final filter",
          plan.count("levenshtein") >= 1),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    # r3 — salted skew join: the fact-dim join must key on (key, _salt)
    # and the hot census must broadcast.
    plan = _fmt(E.queries()["salted_skew_join"](spark, SF))
    sections.append((
        "salted_skew_join (census-driven salting)", plan,
        [("join keys include the salt",
          bool(_re.search(r"\[event_type#\d+, _salt#\d+\]", plan))),
         ("hot census broadcast", "BroadcastExchange" in plan)],
    ))

    # r3 continuation — bloom pruning: the bit set must BROADCAST (the
    # whole point: map-side pruning, no shuffle of the big side before
    # the filter), and the orders scan must stay column-pruned.
    plan = _fmt(E.queries()["bloom_prune_join"](spark, SF))
    sections.append((
        "bloom_prune_join (broadcast bitset, map-side prune)", plan,
        [("bitset broadcast", "BroadcastExchange" in plan),
         ("orders scan pruned to the 2 live columns (even o_orderkey dropped "
          "by the aggregate)",
          bool(_re.search(
              r"ReadSchema: struct<o_custkey:bigint,o_orderpriority:string>",
              plan))),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    # r3 continuation — z-order stats: pure native exprs (the interleave
    # is shifts/masks inside codegen), no Python anywhere.
    plan = _fmt(E.queries()["zorder_prune_stats"](spark, SF))
    sections.append((
        "zorder_prune_stats (Morton interleave in codegen)", plan,
        [("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan),
         ("interleave compiled to native shift/mask projection",
          "shiftright(x#" in plan and "& 1" in plan)],
    ))

    # r3 continuation — gap-fill: the LOCF window must partition by
    # user_id (a global window here would be the classic scale bug).
    plan = _fmt(E.queries()["gapfill_daily"](spark, SF))
    sections.append((
        "gapfill_daily (per-user grid + LOCF window)", plan,
        [("window partitions by user_id",
          bool(_re.search(r"Window[\s\S]{0,400}?user_id#\d+", plan))),
         ("no CartesianProduct (grid via per-user sequence, not calendar join)",
          "CartesianProduct" not in plan)],
    ))

    # r3 continuation — triangles: equi-joins only; the degree-ordered
    # orientation exists precisely to avoid any theta/nested-loop shape.
    plan = _fmt(E.queries()["match_graph_triangles"](spark, SF))
    sections.append((
        "match_graph_triangles (degree-ordered node-iterator)", plan,
        [("no CartesianProduct / nested loop",
          "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan)],
    ))

    # r3 continuation — skyline: the two-pass rewrite must NOT contain the
    # naive O(n^2) anti-join (no nested loop), just a groupBy + one window
    # + an equi-join back on price.
    plan = _fmt(E.queries()["skyline_orders"](spark, SF))
    sections.append((
        "skyline_orders (two-pass frontier, no theta self-join)", plan,
        [("no CartesianProduct / nested loop",
          "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan),
         ("equi-join on price", "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
          or "ShuffledHashJoin" in plan)],
    ))

    # r3 continuation 2 — entity-id continuity: the two mutual-best windows
    # run over the OVERLAP frame (keyed by entity/cluster), never the
    # corpus; the only corpus-sized operation is the doc_id join.
    from sneaky_data_matcher_spark.operators.entity_ids import (
        persistent_entity_ids,
    )

    pv = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") / 4).cast("long").alias("entity_id")
    )
    cu = spark.range(0, 1200).select(
        F.col("id").alias("doc_id"), (F.col("id") / 4).cast("long").alias("cluster_id")
    )
    plan = _fmt(persistent_entity_ids(pv, cu))
    sections.append((
        "persistent_entity_ids (mutual-best over the overlap frame)", plan,
        [("exactly two windows (nomination + acceptance)",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 2),
         ("map-side partial count before the overlap shuffle",
          "partial_count" in plan),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    # r3 continuation 2 — cluster_split must stay a pure projection.
    from sneaky_data_matcher_spark.operators.sampling import cluster_split

    plan = _fmt(cluster_split(cu.withColumnRenamed("cluster_id", "cluster_id")))
    sections.append((
        "cluster_split (leakage-safe split, pure projection)", plan,
        [("no shuffle", "Exchange" not in plan),
         ("no window", len(set(_re.findall(r"Window \(\d+\)", plan))) == 0),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    # r3 continuation 2 — hard negatives: query side broadcast, single
    # top-k window; the label filter rides the broadcast join.
    plan = _fmt(E.queries()["hard_negatives"](spark, SF))
    sections.append((
        "hard_negatives (broadcast queries, one top-k window)", plan,
        [("query side broadcast", "BroadcastExchange" in plan
          or "BroadcastNestedLoopJoin" in plan),
         ("one window for final top-k",
          len(set(_re.findall(r"Window \(\d+\)", plan))) == 1),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    # r3 continuation 2 — standardize_values: one corpus-sized census
    # shuffle with map-side combine; election window reads the census only.
    from sneaky_data_matcher_spark.operators.standardize import (
        standardize_values,
    )

    vals = spark.range(0, 1000).select(F.concat(F.lit("v"), (F.col("id") % 100).cast("string")).alias("value"))
    plan = _fmt(standardize_values(vals, "value"))
    sections.append((
        "standardize_values (census -> distinct-value election)", plan,
        [("map-side partial count before the census shuffle",
          "partial_count" in plan),
         ("one election window", len(set(_re.findall(r"Window \(\d+\)", plan))) == 1),
         ("no Python/Arrow boundary",
          "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan)],
    ))

    out_lines = ["# Physical plans (generated by tools/explain_plans.py)\n"]
    ok_all = True
    for title, plan, checks in sections:
        print(f"== {title}")
        out_lines.append(f"\n## {title}\n")
        for desc, ok in checks:
            ok_all &= ok
            mark = "OK " if ok else "FAIL"
            print(f"   [{mark}] {desc}")
            out_lines.append(f"- [{'x' if ok else ' '}] {desc}")
        out_lines.append("\n```\n" + plan.strip()[:6000] + "\n```")
    if "--write" in sys.argv:
        path = sys.argv[sys.argv.index("--write") + 1]
        with open(path, "w") as f:
            f.write("\n".join(out_lines) + "\n")
        print(f"wrote {path}")
    spark.stop()
    return 0 if ok_all else 1


if __name__ == "__main__":
    raise SystemExit(main())
