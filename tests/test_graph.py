"""Integer PageRank + TextRank: exactness against a pure-Python twin of
the div-floor recurrence, ranking invariants, and edge hygiene."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.operators import bpe, dedup, graph, relational
from week5_datingnlp_big_data_spark.session import release


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w bigint")


def _py_pagerank(edges, iters=5, scale=10**9):
    """The recurrence from graph.py, in plain Python — the golden."""
    out = {}
    for s, _, w in edges:
        out[s] = out.get(s, 0) + w
    nodes = sorted(out)
    n = len(nodes)
    rank = {v: scale // n for v in nodes}
    base = ((15 * scale) // 100) // n
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v, w in edges:
            s[v] += (rank[u] * w) // out[u]
        rank = {v: base + (85 * s[v]) // 100 for v in nodes}
    return rank


def _sym(pairs):
    out = []
    for a, b, w in pairs:
        out.append((a, b, w))
        out.append((b, a, w))
    return out


def test_pagerank_matches_python_twin_weighted(spark):
    pairs = [("a", "b", 3), ("b", "c", 1), ("a", "c", 7), ("c", "d", 2)]
    edges = _sym(pairs)
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank_int(_edges(spark, edges)).collect()
    }
    assert got == _py_pagerank(edges)


def test_pagerank_uniform_on_cycle(spark):
    # A 4-cycle is vertex-transitive: every node must get the same rank.
    edges = _sym([("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("d", "a", 1)])
    ranks = {
        r["node"]: r["rank"]
        for r in graph.pagerank_int(_edges(spark, edges)).collect()
    }
    assert len(set(ranks.values())) == 1


def test_pagerank_hub_outranks_leaves(spark):
    # Star graph: the hub concentrates rank.
    edges = _sym([("hub", leaf, 1) for leaf in ("x", "y", "z")])
    ranks = {
        r["node"]: r["rank"]
        for r in graph.pagerank_int(_edges(spark, edges)).collect()
    }
    assert ranks["hub"] > ranks["x"] == ranks["y"] == ranks["z"]


def test_pagerank_empty_graph(spark):
    out = graph.pagerank_int(_edges(spark, []))
    assert out.collect() == []


def test_word_adjacency_edges_symmetric_pruned(spark):
    docs = spark.createDataFrame(
        [(["big", "data", "big", "data", "big", "data"],),
         (["data", "big", "rare", "pair"],)],
        "tokens array<string>",
    )
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in graph.word_adjacency_edges(docs, min_weight=3).collect()
    }
    # (big,data) adjacency occurs 6 times across both docs (either order);
    # (rare,pair) and (big,rare) occur once: pruned at min_weight=3.
    assert got == {("big", "data"): 6, ("data", "big"): 6}


def test_word_adjacency_drops_self_loops(spark):
    docs = spark.createDataFrame(
        [(["echo", "echo", "echo", "echo"],)], "tokens array<string>"
    )
    assert graph.word_adjacency_edges(docs, min_weight=1).collect() == []


def test_textrank_topk_deterministic_and_ranked(spark):
    docs = spark.createDataFrame(
        [(["spark", "engine"] * 10,), (["spark", "scale"] * 4,)],
        "tokens array<string>",
    )
    out = graph.textrank_keywords(docs, k=3, min_edge_weight=2).collect()
    words = [r["word"] for r in out]
    ranks = [r["rank_scaled"] for r in out]
    assert ranks == sorted(ranks, reverse=True)
    # 'spark' sits on both edges — highest degree, highest rank.
    assert words[0] == "spark"
    rerun = graph.textrank_keywords(docs, k=3, min_edge_weight=2).collect()
    assert out == rerun


# ------------------------------------------------- market-basket pairs


def test_copurchase_support_lift_confidence(spark):
    rows = [
        # baskets: {x,y} ×3, {x,z} ×1, {y} ×1 → 5 baskets
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"),
        (4, "x"), (4, "z"),
        (5, "y"),
        (5, "y"),            # duplicate line in the same basket: counted once
    ]
    df = spark.createDataFrame(rows, "basket bigint, item string")
    out = relational.basket_copurchase(
        df, "basket", "item", min_support=2, max_basket_size=10
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["support"]) == ("x", "y", 3)
    # c_x=4, c_y=4, n=5 → lift = 3*5/(4*4)
    assert r["lift"] == round(15 / 16, 6)
    assert r["conf_a_to_b"] == 0.75
    assert r["conf_b_to_a"] == 0.75


def test_copurchase_mega_basket_guard(spark):
    rows = [(1, f"i{k}") for k in range(12)] + [(2, "i0"), (2, "i1")] * 3
    df = spark.createDataFrame(rows, "basket bigint, item string")
    out = relational.basket_copurchase(
        df, "basket", "item", min_support=1, max_basket_size=10
    ).collect()
    # basket 1 (12 items) is dropped wholesale; only basket 2's pair remains
    assert [(r["item_a"], r["item_b"], r["support"]) for r in out] == [
        ("i0", "i1", 1)
    ]


def test_pagerank_driver_and_distributed_paths_identical(spark):
    import random

    rng = random.Random(11)
    nodes = [f"n{k}" for k in range(40)]
    pairs = set()
    while len(pairs) < 120:
        a, b = rng.sample(nodes, 2)
        pairs.add((min(a, b), max(a, b), rng.randrange(1, 9)))
    edges = _sym(sorted(pairs))
    df = _edges(spark, edges)
    fast = {
        r["node"]: r["rank"]
        for r in graph.pagerank_int(df).collect()  # small graph → driver path
    }
    dist = {
        r["node"]: r["rank"]
        for r in graph.pagerank_int(df, driver_threshold_edges=0).collect()
    }
    assert fast == dist == _py_pagerank(edges)


# ---------------------------------------- property: exact d==1 recall


def test_typo_blocking_recall_property(spark):
    """Symmetric-delete blocking is EXACT for distance 1: for random
    base words and every possible single edit (insert/delete/substitute
    at every position), the pair must surface. Batched into one Spark
    job — a per-example job would take minutes."""
    import random
    import string

    rng = random.Random(99)
    rows = []
    expected = set()
    for i in range(25):
        base = "".join(
            rng.choice(string.ascii_lowercase) for _ in range(rng.randint(4, 10))
        ) + f"q{i}"  # unique suffix keeps pairs disjoint across examples
        edits = set()
        p = rng.randrange(len(base))
        c = rng.choice(string.ascii_lowercase)
        edits.add(base[:p] + c + base[p:])            # insert
        edits.add(base[:p] + base[p + 1:])            # delete
        if base[p] != c:
            edits.add(base[:p] + c + base[p + 1:])    # substitute
        edits.discard(base)
        edits = {e for e in edits if len(e) >= 4}
        rows.append((base, 1000))
        for e in edits:
            rows.append((e, 1))
            expected.add((e, base))
    df = spark.createDataFrame(rows, "word string, n bigint").dropDuplicates(["word"])
    got = {
        (r["typo"], r["canon"])
        for r in relational_typo(df).collect()
    }
    missed = expected - got
    assert not missed, f"blocking missed distance-1 pairs: {sorted(missed)[:5]}"


def relational_typo(df):
    from week5_datingnlp_big_data_spark.operators import fuzzy

    return fuzzy.edit1_typo_pairs(df)


def _tri(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "src string, dst string")
    return {
        r["item"]: (r["degree"], r["triangles"], r["clustering"])
        for r in graph.triangle_stats(df, **kw).collect()
    }


def test_triangle_k4_complete(spark):
    # K4: every node has degree 3, C(3,2)=3 triangles, coefficient 1.0
    nodes = ["a", "b", "c", "d"]
    pairs = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1 :]]
    got = _tri(spark, pairs)
    assert got == {n: (3, 3, 1.0) for n in nodes}


def test_triangle_path_graph_has_none(spark):
    got = _tri(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    # endpoints fall under min_degree=2; interior nodes: no triangles
    assert got == {"b": (2, 0, 0.0), "c": (2, 0, 0.0)}


def test_triangle_planted_in_star(spark):
    # hub h with 5 leaves + one closed leaf pair (l0,l1): exactly 1 triangle
    pairs = [("h", f"l{i}") for i in range(5)] + [("l0", "l1")]
    got = _tri(spark, pairs)
    assert got["h"] == (5, 1, 0.1)  # 2*1/(5*4)
    assert got["l0"] == (2, 1, 1.0)
    assert got["l1"] == (2, 1, 1.0)


def test_triangle_canonicalization(spark):
    # duplicates, reversed duplicates, and self-loops collapse to one K3
    pairs = [
        ("a", "b"), ("b", "a"), ("a", "b"),
        ("b", "c"), ("c", "b"),
        ("a", "c"), ("c", "c"),
    ]
    got = _tri(spark, pairs)
    assert got == {n: (2, 1, 1.0) for n in ("a", "b", "c")}


def test_triangle_two_disjoint_triangles_share_nothing(spark):
    pairs = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    got = _tri(spark, pairs)
    assert got["a"] == (2, 1, 1.0)
    assert got["z"] == (2, 1, 1.0)
    # bridge endpoints have degree 3 but still exactly 1 triangle each
    assert got["c"] == (3, 1, round(1 / 3, 6))
    assert got["x"] == (3, 1, round(1 / 3, 6))


def _cores(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "src string, dst string")
    return {r["item"]: r["core"] for r in graph.core_numbers(df, **kw).collect()}


def test_core_numbers_star_all_one(spark):
    pairs = [("h", f"l{i}") for i in range(4)]
    assert _cores(spark, pairs) == {"h": 1, "l0": 1, "l1": 1, "l2": 1, "l3": 1}


def test_core_numbers_triangle_with_pendant(spark):
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")]
    assert _cores(spark, pairs) == {"a": 2, "b": 2, "c": 2, "d": 1}


def test_core_numbers_nested_cores(spark):
    # K4 core (core 3) with a path hanging off it (cores 1)
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    tail = [("d", "e"), ("e", "f")]
    got = _cores(spark, k4 + tail)
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1}


def test_core_numbers_distributed_equals_driver_path(spark):
    import random

    rng = random.Random(6)
    names = [f"n{i}" for i in range(14)]
    pairs = [
        (rng.choice(names), rng.choice(names)) for _ in range(45)
    ] + [("n0", "n0")]  # self-loop must drop
    drv = _cores(spark, pairs)  # small graph -> driver peeling
    dist = _cores(spark, pairs, driver_threshold_edges=0)  # forced distributed
    assert drv == dist
    # twin sanity: matches the sequential reference directly
    assert drv == graph._core_numbers_py([p for p in pairs])


def test_core_numbers_empty_graph(spark):
    assert _cores(spark, [("a", "a")]) == {}


def test_core_numbers_recursive_sql_oracle_matches_twin():
    # The driver-window oracle for copurchase_core_numbers runs the peel
    # as a DuckDB recursive CTE whose working table is a single
    # list-typed row. Pin that SQL shape against the sequential twin on
    # random graphs: DuckDB re-inlines CTEs inside the recursive term
    # (a UNION dedup upstream is NOT reliably preserved there, and
    # multi-scans of the working table misbehave), so any regression in
    # the single-scan/map-snapshot structure flips cores here first.
    import random

    import duckdb

    core_sql = """
    WITH RECURSIVE edges AS (
      SELECT u, v FROM e WHERE u <> v
      UNION ALL
      SELECT v, u FROM e WHERE u <> v
    ),
    adjm AS MATERIALIZED (
      SELECT map_from_entries(list({'k': u, 'v': nbrs})) AS m
      FROM (SELECT u, list(DISTINCT v) AS nbrs FROM edges GROUP BY u)
    ),
    peel(nodes, k) AS (
      SELECT (SELECT list(DISTINCT u ORDER BY u) FROM edges), 0
      UNION ALL
      SELECT CASE WHEN len(s.survivors) < len(s.nodes)
                  THEN s.survivors ELSE s.nodes END,
             CASE WHEN len(s.survivors) < len(s.nodes)
                  THEN s.k ELSE s.k + 1 END
      FROM (
        SELECT p.nodes, p.k,
               list_filter(p.nodes,
                 n -> len(list_filter(coalesce(adjm.m[n][1], []),
                                      x -> list_contains(p.nodes, x))) > p.k
               ) AS survivors
        FROM peel p, adjm
        WHERE len(p.nodes) > 0
      ) s
    )
    SELECT t.node AS item, CAST(max(p.k) AS BIGINT) AS core
    FROM peel p, unnest(p.nodes) AS t(node)
    GROUP BY t.node
    """
    rng = random.Random(77)
    for _ in range(25):
        n = rng.randint(2, 35)
        m = rng.randint(1, 140)
        edge_list = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        con = duckdb.connect()
        con.execute("CREATE TABLE e(u INT, v INT)")
        con.executemany("INSERT INTO e VALUES (?, ?)", edge_list)
        got = dict(con.execute(core_sql).fetchall())
        con.close()
        assert got == graph._core_numbers_py(edge_list)


def test_hits_int_hand_graph_and_both_paths_identical(spark):
    from week5_datingnlp_big_data_spark.operators import graph

    # star: everyone links to 'hub-target' c; a links b too
    edges = [("a", "c", 2), ("b", "c", 1), ("a", "b", 1), ("d", "c", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    driver = {
        (r["node"]): (r["hub"], r["auth"])
        for r in graph.hits_int(df, iters=3, scale=10**6).collect()
    }
    dist = {
        (r["node"]): (r["hub"], r["auth"])
        for r in graph.hits_int(
            df, iters=3, scale=10**6, driver_threshold_edges=0
        ).collect()
    }
    assert driver == dist  # bit-identical coarse-to-fine contract
    # c is the authority (all in-links), a the best hub (most out-weight)
    assert driver["c"][1] == max(v[1] for v in driver.values())
    assert driver["a"][0] == max(v[0] for v in driver.values())
    # L1 normalization: ranks sum to ~scale (floor losses < n units)
    assert abs(sum(v[0] for v in driver.values()) - 10**6) < 10
    assert abs(sum(v[1] for v in driver.values()) - 10**6) < 10
    # source-only d has zero authority; sink c has zero hub
    assert driver["d"][1] == 0 and driver["c"][0] == 0


def test_hits_int_empty_and_zero_sum(spark):
    from week5_datingnlp_big_data_spark.operators import graph

    empty = spark.createDataFrame([], "src string, dst string, w long")
    assert graph.hits_int(empty).count() == 0


def test_label_propagation_two_cliques_and_both_paths(spark):
    from week5_datingnlp_big_data_spark.operators import graph

    # two triangles joined by one weak bridge: communities = the cliques
    edges = [
        ("a", "b", 5), ("b", "c", 5), ("a", "c", 5),
        ("x", "y", 5), ("y", "z", 5), ("x", "z", 5),
        ("c", "x", 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    driver = {
        r["node"]: r["community"]
        for r in graph.label_propagation(df, iters=4).collect()
    }
    dist = {
        r["node"]: r["community"]
        for r in graph.label_propagation(
            df, iters=4, driver_threshold_edges=0
        ).collect()
    }
    assert driver == dist
    assert driver["a"] == driver["b"] == driver["c"]
    assert driver["x"] == driver["y"] == driver["z"]
    assert driver["a"] != driver["x"]


def test_label_propagation_tiebreak_is_min_label(spark):
    from week5_datingnlp_big_data_spark.operators import graph

    # single edge: the self-preference term makes round 1 a tie at each
    # node ({self: 1, neighbor: 1}), and the min-label tiebreak collapses
    # both to 'a' — the bare-edge case pure synchronous LPA oscillates on
    df = spark.createDataFrame([("b", "a", 1)], "src string, dst string, w long")
    got = {r["node"]: r["community"]
           for r in graph.label_propagation(df, iters=2).collect()}
    assert got == {"a": "a", "b": "a"}
    # and the verdict is stable: one more round changes nothing
    got3 = {r["node"]: r["community"]
            for r in graph.label_propagation(df, iters=3).collect()}
    assert got3 == got


# ------------------------------------ every iterative loop releases


def _own_checkpoint(df) -> set:
    """The RDD id behind ``df`` if its plan is a bare RDD scan, as a
    local checkpoint's is."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return {plan.rdd().id()}
    return set()


def _random_graph(spark):
    """40 nodes, 120 weighted undirected edges, symmetrized (240 rows)."""
    import random

    rng = random.Random(11)
    nodes = [f"n{k}" for k in range(40)]
    pairs = set()
    while len(pairs) < 120:
        a, b = rng.sample(nodes, 2)
        pairs.add((min(a, b), max(a, b), rng.randrange(1, 9)))
    return _edges(spark, _sym(sorted(pairs)))


_ITERATIVE = {
    "pagerank_int": graph.pagerank_int,
    "core_numbers": graph.core_numbers,
    "hits_int": lambda e, **kw: graph.hits_int(e, scale=10**6, **kw),
    "label_propagation": graph.label_propagation,
    "connected_components": lambda e, **kw: dedup.connected_components(
        e, "src", "dst", **kw
    ),
    "connected_components_star": lambda e, **kw: dedup.connected_components_star(
        e, "src", "dst", **kw
    ),
}


@pytest.mark.parametrize("threshold", [0, 100_000], ids=["distributed", "driver"])
@pytest.mark.parametrize("name", sorted(_ITERATIVE))
def test_iterative_operator_leaves_only_its_output(spark, name, threshold):
    # A distributed path returns its last checkpoint and releases every
    # other generation; the driver path leaves nothing at all.
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    edges = _random_graph(spark)
    before = set(persisted().keySet())
    out = _ITERATIVE[name](edges, driver_threshold_edges=threshold)
    assert len(out.collect()) == 40
    left = set(persisted().keySet()) - before
    own = _own_checkpoint(out) if threshold == 0 else set()
    release(out)
    assert left == own


def test_bpe_train_leaves_nothing_cached(spark):
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    docs = spark.createDataFrame(
        [("low lower lowest newer newest wider widest slow slower",)] * 3
        + [("the newest slower widest lowest",)] * 2,
        "text string",
    )
    before = set(persisted().keySet())
    merges = bpe.bpe_train(docs, n_merges=20)
    assert len(merges) > 5  # enough rounds to cut the lineage repeatedly
    assert set(persisted().keySet()) == before


def test_release_frees_checkpoint_or_cache_and_nothing_else(spark):
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    ck = spark.range(50).localCheckpoint(eager=True)
    assert len(set(persisted().keySet()) - before) == 1
    release(spark.range(50).selectExpr("id * 2 AS x"))  # unmaterialized
    release(ck.selectExpr("id * 2 AS x"))  # derived, not the checkpoint
    assert len(set(persisted().keySet()) - before) == 1
    assert ck.count() == 50
    release(ck)
    assert set(persisted().keySet()) == before
    cached = spark.range(50).persist()
    cached.count()
    assert len(set(persisted().keySet()) - before) == 1
    release(cached)
    assert set(persisted().keySet()) == before
