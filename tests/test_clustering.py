"""Connected components (driver pass and star loop) vs a union-find oracle."""

from __future__ import annotations

import random

from sneaky_data_matcher_spark.operators import clustering
from sneaky_data_matcher_spark.operators.clustering import connected_components


class _UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        if p != x:
            self.parent[x] = self.find(p)
        return self.parent[x]

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _oracle(edges: list[tuple[str, str]]) -> dict[str, str]:
    uf = _UnionFind()
    for a, b in edges:
        uf.union(a, b)
    nodes = {n for e in edges for n in e}
    comp: dict[str, list[str]] = {}
    for n in nodes:
        comp.setdefault(uf.find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _force_star_loop(monkeypatch):
    # -1, not 0: even the empty graph then skips the driver pass
    monkeypatch.setattr(clustering, "_DRIVER_MAX_EDGES", -1)


def _cc(spark, edges, schema="doc_id_a string, doc_id_b string", **kw):
    df = spark.createDataFrame(edges, schema)
    return {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, **kw).collect()
    }


def _run(spark, edges, pre_contract=False) -> dict:
    stats: dict = {}
    assert _cc(spark, edges, pre_contract=pre_contract, _stats=stats) == _oracle(edges)
    return stats


def _run_both(spark, monkeypatch, edges, pre_contract=False) -> None:
    """Check `edges` against the oracle on the driver pass, then on the
    star loop with the bound forced below the graph."""
    assert _run(spark, edges, pre_contract)["rounds"] == 0
    with monkeypatch.context() as m:
        _force_star_loop(m)
        assert _run(spark, edges, pre_contract)["rounds"] > 0


def test_simple_chain(spark, monkeypatch):
    _run_both(spark, monkeypatch, [("a", "b"), ("b", "c"), ("d", "e")])


def test_star_and_cycle(spark, monkeypatch):
    _run_both(
        spark,
        monkeypatch,
        [("hub", f"n{i}") for i in range(20)] + [("x", "y"), ("y", "z"), ("z", "x")],
    )


def test_long_path(spark, monkeypatch):
    # path of 64 nodes: stresses the O(log n) round count
    _run_both(spark, monkeypatch, [(f"p{i:03d}", f"p{i+1:03d}") for i in range(63)])


def test_random_graph(spark, monkeypatch):
    rng = random.Random(7)
    nodes = [f"n{i:04d}" for i in range(300)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(350)]
    edges = [(min(a, b), max(a, b)) for a, b in edges]
    _run_both(spark, monkeypatch, edges)


def test_duplicate_and_reversed_edges(spark, monkeypatch):
    _run_both(spark, monkeypatch, [("a", "b"), ("a", "b"), ("b", "a"), ("c", "d")])
    for pre_contract in (False, True):  # the empty match set
        _run_both(spark, monkeypatch, [], pre_contract)


def test_min_labels_matches_union_find():
    """The vectorized kernel against the loop union-find on random
    multigraphs (self-loops, repeats, isolated codes), no Spark."""
    import numpy as np

    for seed in range(200):
        rng = random.Random(seed)
        n = rng.randint(1, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(0, 80))]
        want = {i: i for i in range(n)} | _oracle(edges)
        cu = np.array([a for a, _ in edges], dtype=np.int64)
        cv = np.array([b for _, b in edges], dtype=np.int64)
        assert clustering._min_labels(cu, cv, n).tolist() == [want[i] for i in range(n)]


def test_driver_bound_boundary(spark, monkeypatch):
    """_DRIVER_MAX_EDGES edges take the driver pass (no star step, zero
    star stats); one edge more takes the star loop."""
    large_stars = []
    large_star = clustering._large_star

    def recording(edges):
        large_stars.append(1)
        return large_star(edges)

    monkeypatch.setattr(clustering, "_large_star", recording)
    monkeypatch.setattr(clustering, "_DRIVER_MAX_EDGES", 6)
    path = [(f"p{i}", f"p{i+1}") for i in range(7)]
    assert _run(spark, path[:6]) == {"rounds": 0, "large_stars": 0, "small_stars": 0}
    assert not large_stars
    stats = _run(spark, path)
    assert large_stars and stats["large_stars"] >= stats["small_stars"] > 0


def test_star_loop_evaluates_upstream_once(spark, monkeypatch, tmp_path):
    """Above the bound, the probe and the star loop share one evaluation
    of a lazy upstream (each batch of the mapInPandas below logs its rows)."""
    log = tmp_path / "rows.log"

    def upstream(batches):
        for b in batches:
            with open(log, "a") as f:
                f.write(f"{len(b)}\n")
            yield b.assign(
                doc_id_a="n" + (b["id"] // 4).astype(str),
                doc_id_b="n" + b["id"].astype(str),
            )[["doc_id_a", "doc_id_b"]]

    src = spark.range(200, numPartitions=4).repartition(4, "id")
    matches = src.mapInPandas(upstream, "doc_id_a string, doc_id_b string")
    monkeypatch.setattr(clustering, "_DRIVER_MAX_EDGES", 10)
    stats: dict = {}
    out = connected_components(matches, pre_contract=True, _stats=stats).collect()
    assert stats["rounds"] > 0 and len(out) == 200
    assert sum(int(x) for x in log.read_text().split()) == 200


def test_null_endpoints_and_self_loops(spark, monkeypatch):
    """Edges with a NULL endpoint are ignored, and a node whose only edges
    are self-loops is not emitted — on both paths alike."""
    edges = [("a", "b"), ("b", None), (None, "c"), ("c", "d"), (None, None), ("e", "e")]
    want = {"a": "a", "b": "a", "c": "c", "d": "c"}
    stats: dict = {}
    assert _cc(spark, edges, _stats=stats) == want and stats["rounds"] == 0
    _force_star_loop(monkeypatch)
    assert _cc(spark, edges, _stats=stats) == want and stats["rounds"] > 0


def test_nullable_long_ids(spark, monkeypatch):
    """Nullable bigint ids keep their type and exact value on both paths:
    a NULL among the collected ids would turn the column to float64,
    which cannot hold 2**60 + 1."""
    big = 2**60
    edges = [(1, 2), (2, None), (None, 3), (3, 4), (big + 1, big), (big + 2, big + 1)]
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    want = {1: 1, 2: 1, 3: 3, 4: 3, big: big, big + 1: big, big + 2: big}
    for star_loop in (False, True):
        if star_loop:
            _force_star_loop(monkeypatch)
        out = connected_components(df)
        assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]
        assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == want


def test_star_loop_runs_under_session_conf(spark, monkeypatch):
    """The star loop sets no session conf: every large-star step sees the
    AQE and shuffle-partition settings the caller's session had."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    seen = []
    large_star = clustering._large_star

    def recording(edges):
        seen.append(tuple(spark.conf.get(k) for k in keys))
        return large_star(edges)

    monkeypatch.setattr(clustering, "_large_star", recording)
    _force_star_loop(monkeypatch)
    old_parts = spark.conf.get(keys[1])
    spark.conf.set(keys[1], "3")  # a value no default sets
    try:
        before = tuple(spark.conf.get(k) for k in keys)
        _run(spark, [(f"p{i:02d}", f"p{i+1:02d}") for i in range(20)])
    finally:
        spark.conf.set(keys[1], old_parts)
    assert seen and set(seen) == {before}


def test_star_schedule_matches_oracle(spark, monkeypatch):
    """The one CC schedule, Kiveris 'optimized runs' (large-star to
    fixpoint, then small-star), must match the union-find oracle on a
    high-diameter path plus a random graph, with the stats hook reporting
    the schedule shape."""
    _force_star_loop(monkeypatch)
    rng = random.Random(11)
    nodes = [f"n{i:04d}" for i in range(200)]
    edges = [(f"p{i:03d}", f"p{i+1:03d}") for i in range(99)] + [
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(150)
    ]
    stats = _run(spark, edges)
    assert stats["large_stars"] >= stats["small_stars"] > 0


def test_pre_contract_same_output_dense_blocks(spark, monkeypatch):
    """Partition-local union-find contraction must not change assignments
    on the shape it targets: dense per-block cliques (k members ->
    k(k-1)/2 co-located pairs) plus a high-diameter path plus random
    noise, with duplicate and reversed edges thrown in. Contraction runs
    only in the star loop, so the bound is forced below the graph."""
    rng = random.Random(13)
    edges = []
    # three dense cliques (the blocking-generated shape)
    for c, k in (("A", 12), ("B", 8), ("C", 5)):
        members = [f"{c}{i:02d}" for i in range(k)]
        edges += [(a, b) for a in members for b in members if a < b]
    edges += [(f"p{i:03d}", f"p{i+1:03d}") for i in range(49)]
    nodes = [f"n{i:03d}" for i in range(80)]
    edges += [tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)]
    edges += [("A00", "A01"), ("A01", "A00")]  # dup + reversed
    driver = _cc(spark, edges)
    _force_star_loop(monkeypatch)
    plain = _cc(spark, edges)
    contracted = _cc(spark, edges, pre_contract=True)
    assert contracted == plain == driver == _oracle(edges)


def test_pre_contract_shrinks_partition_edges(spark):
    """The contraction itself: a clique of 40 members generated into few
    partitions must contract to <= 39 edges per partition containing it,
    and the contracted edge set must have the same transitive closure."""
    members = [f"m{i:02d}" for i in range(40)]
    pairs = [(a, b) for a in members for b in members if a < b]  # 780
    df = spark.createDataFrame(pairs, "u string, v string").repartition(4)
    out = clustering._contract_partitions(df)
    rows = [(r["u"], r["v"]) for r in out.collect()]
    # each of the 4 partitions emits at most |V_p|-1 <= 39 edges
    assert len(rows) <= 4 * 39 < len(pairs)
    assert _oracle(rows) == _oracle(pairs)


def test_pre_contract_long_ids(spark, monkeypatch):
    """Integral doc_ids (the ER pipeline's id dtype) must ride through
    contraction with their type intact — the output schema is inherited
    from the input, not assumed string."""
    _force_star_loop(monkeypatch)
    edges = [(i, i + 1) for i in range(30)] + [(100, 200), (200, 300)]
    schema = "doc_id_a long, doc_id_b long"
    plain = _cc(spark, edges, schema)
    contracted = _cc(spark, edges, schema, pre_contract=True)
    assert contracted == plain == _oracle(edges)
    assert all(isinstance(k, int) for k in contracted)


# ---------------------------------------------------------------------------
# golden_records — survivorship after clustering
# ---------------------------------------------------------------------------

def _gr_fixture(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9), (10, 9)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the longest text in cluster one"),
            (3, "mid length text"),
            (7, "singleton"),
            (9, "same length AA"),
            (10, "same length BB"),  # tie on len -> min doc_id (9) wins
        ],
        "doc_id long, doc_text string",
    )
    return clusters, docs


def test_golden_records_numeric(spark):
    from sneaky_data_matcher_spark.operators.clustering import golden_records

    clusters, docs = _gr_fixture(spark)
    out = {r["cluster_id"]: r.asDict() for r in golden_records(clusters, docs).collect()}
    assert out[1]["rep_doc_id"] == 2 and out[1]["n_members"] == 3
    assert out[1]["rep_text"] == "the longest text in cluster one"
    assert out[7]["rep_doc_id"] == 7 and out[7]["n_members"] == 1
    assert out[9]["rep_doc_id"] == 9  # deterministic tie-break
    assert out[9]["rep_text_len"] == 14


def test_golden_records_string_ids_match_numeric_path(spark):
    from sneaky_data_matcher_spark.operators.clustering import golden_records

    clusters, docs = _gr_fixture(spark)
    num = sorted(
        (r["cluster_id"], r["rep_doc_id"], r["rep_text_len"], r["n_members"])
        for r in golden_records(clusters, docs).collect()
    )
    # zero-pad string ids so lexicographic == numeric order (string ids
    # tie-break lexicographically by design — document via lpad here)
    got = sorted(
        (int(r["cluster_id"]), int(r["rep_doc_id"]), r["rep_text_len"], r["n_members"])
        for r in golden_records(
            clusters.selectExpr(
                "lpad(cast(doc_id as string), 4, '0') doc_id",
                "cast(cluster_id as string) cluster_id",
            ),
            docs.selectExpr("lpad(cast(doc_id as string), 4, '0') doc_id", "doc_text"),
            numeric_ids=False,
        ).collect()
    )
    assert got == num


def test_threshold_stability_clusters_only_split(spark):
    """Raising the threshold removes edges, so 0.8-clusters can only
    shatter: every 0.85-cluster sits wholly inside one 0.8-cluster, and
    member counts add up."""
    from sneaky_data_matcher_spark.entry_queries import QUERIES

    rows = QUERIES["er_threshold_stability"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_subclusters"] <= r["n_members"]
    assert any(r["n_subclusters"] > 1 for r in rows) or all(
        r["n_members"] == r["n_subclusters"] for r in rows
    )


def test_golden_fields_per_attribute_rules(spark):
    from sneaky_data_matcher_spark.operators.clustering import golden_fields

    clusters = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200)], "doc_id long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [
            (1, "short", "de", "src9"),
            (2, "the longest text here", "en", "src12"),
            (3, "medium text", "en", "src3"),
            (4, "solo", "fr", "src0"),
        ],
        "doc_id long, doc_text string, lang string, source string",
    )
    got = {r["cluster_id"]: r for r in golden_fields(clusters, docs).collect()}
    g = got[100]
    assert g["rep_text"] == "the longest text here"   # longest member
    assert g["modal_lang"] == "en"                    # 2 of 3
    assert g["best_source"] == "src3"                 # lowest numeric suffix
    assert g["n_members"] == 3
    assert got[200]["best_source"] == "src0" and got[200]["modal_lang"] == "fr"


def test_golden_fields_modal_tie_breaks_lexicographically(spark):
    from sneaky_data_matcher_spark.operators.clustering import golden_fields

    clusters = spark.createDataFrame([(1, 9), (2, 9)], "doc_id long, cluster_id long")
    docs = spark.createDataFrame(
        [(1, "aa", "fr", "src2"), (2, "bb", "de", "src2")],
        "doc_id long, doc_text string, lang string, source string",
    )
    got = golden_fields(clusters, docs).first()
    assert got["modal_lang"] == "de"  # 1-1 tie -> lexicographically smallest


def test_lpa_splits_bridged_cliques(spark):
    """Two K4 cliques joined by one bridge: CC merges them into one
    cluster; LPA keeps two communities (the bridge label never wins a
    local majority)."""
    from sneaky_data_matcher_spark.operators.clustering import (
        connected_components,
        lpa_communities,
    )

    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b = [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
    edges = k4a + k4b + [(4, 5)]  # bridge
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    cc = connected_components(df)
    assert cc.select("cluster_id").distinct().count() == 1
    out = {r.doc_id: r.community for r in lpa_communities(df, nodes, 3).collect()}
    comms = set(out.values())
    assert len(comms) == 2
    assert {out[i] for i in range(1, 5)} != {out[i] for i in range(5, 9)}


def test_lpa_matches_sql_twin_random_graph(spark):
    import random

    import duckdb

    from sneaky_data_matcher_spark.operators.clustering import (
        lpa_communities,
        lpa_sql_ctes,
    )

    rng = random.Random(21)
    edges = set()
    while len(edges) < 90:
        a, b = rng.randint(1, 40), rng.randint(1, 40)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 41)], "doc_id long")
    got = sorted(
        (r.doc_id, r.community)
        for r in lpa_communities(df, nodes, rounds=4).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE e(u BIGINT, v BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    con.execute("CREATE TABLE nd(doc_id BIGINT)")
    con.executemany("INSERT INTO nd VALUES (?)", [(i,) for i in range(1, 41)])
    exp = sorted(
        con.execute(
            "WITH sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e), "
            + lpa_sql_ctes("sym", "nd", rounds=4)
            + " SELECT node, label FROM lpa_final"
        ).fetchall()
    )
    assert got == [tuple(e) for e in exp]


def test_bcubed_hand_case(spark):
    """truth = {1,2,3,4}; pred splits it into {1,2},{3,4}:
    precision 1.0, recall = mean(2/4) = 0.5."""
    from sneaky_data_matcher_spark.operators.evaluation import bcubed

    truth = spark.createDataFrame(
        [(i, 100) for i in range(1, 5)], "doc_id long, cluster_id long"
    )
    pred = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "doc_id long, cluster_id long"
    )
    r = bcubed(pred, truth).collect()[0]
    assert (r.n_records, r.bcubed_precision, r.bcubed_recall) == (4, 1.0, 0.5)
    # symmetric direction: merging halves precision instead
    r2 = bcubed(truth, pred).collect()[0]
    assert (r2.bcubed_precision, r2.bcubed_recall) == (0.5, 1.0)


def test_golden_fields_odd_source_shapes(spark):
    """Source ids outside the 'src<short digits>' fixture shape must rank
    deterministically and identically to the SQL twin's rule: numeric
    suffix as int64, unparseable shapes lose to every parseable one."""
    from sneaky_data_matcher_spark.operators.clustering import golden_fields

    clusters = spark.createDataFrame(
        [(i, 1) for i in range(1, 5)], "doc_id long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [
            (1, "aaaa", "en", "feedA"),          # non-numeric: sentinel
            (2, "bbb", "en", "src12345678901"),  # > int32: must not overflow
            (3, "cc", "en", "src9"),
            (4, "d", "fr", "src10"),
        ],
        "doc_id long, doc_text string, lang string, source string",
    )
    r = golden_fields(clusters, docs).collect()[0]
    assert r["best_source"] == "src9"  # 9 < 10 < 12345678901 < sentinel
