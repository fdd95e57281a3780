"""Iterative graph analytics as DataFrame programs: fixed-iteration
weighted PageRank in PURE INTEGER arithmetic, and TextRank keyword
extraction (Mihalcea & Tarau, EMNLP 2004) over the word-adjacency graph.

Why integer PageRank: the float recurrence sums neighbor contributions,
and partial-aggregation order makes the last ulp of every float sum
nondeterministic — after 5 iterations the drift can cross any rounding
boundary, so a float rank is not value-comparable across engines or even
across runs. Scaling ranks to integer units (1 rank = 1/scale) turns the
whole recurrence into div/mod arithmetic that is bit-identical on Spark
and any SQL oracle:

    r_0(v)     = scale div N
    out(u)     = Σ w(u,·)
    c(u→v)     = (r(u) * w(u,v)) div out(u)
    r_{i+1}(v) = ((15*scale) div 100) div N + (85 * Σ c(·→v)) div 100

The floors lose < 1 unit per edge per iteration — noise at scale=1e9 —
and determinism is total.

Scale shape: each iteration is ONE join (ranks ⨝ edges on src, both
pre-partitioned on the same key so AQE reuses the layout) and ONE
aggregation (map-side partial sums absorb high-in-degree hubs before the
shuffle). Every iterative operator here ends each round with
``session.cut`` and sends small graphs through :func:`driver_escape`.

Overflow bound: rank ≤ scale (total mass never exceeds the initial
scale), so rank*w stays inside int64 while scale * max_edge_weight
< 2^63 — at the default scale=1e9 that allows edge weights up to ~9e9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.session import cut, release

PAGERANK_SCALE = 10**9


def driver_escape(edges: DataFrame, m: int, threshold: int, twin, schema: str):
    """The small-graph escape of every iterative graph operator (here and
    both connected-components operators in dedup.py). ``edges`` is the
    operator's materialized edge table and ``m`` its row count. An empty
    table gives the empty ``schema`` frame; a table of at most
    ``threshold`` rows is collected and ``twin`` (collected rows → output
    rows) runs the operator on the driver. Either way ``edges`` is
    released and the frame returned; ``None`` means the graph is large
    and the caller takes its distributed path, still owning ``edges``.

    Each twin computes the identical integer recurrence or graph
    invariant, so both paths give the same rows (the tests force the
    distributed one with ``threshold=0``). Under the threshold the fixed
    scheduling cost of one cluster round trip per iteration dwarfs the
    compute, and the driver holds at most ``threshold`` edge rows."""
    spark = edges.sparkSession
    if m == 0:
        out = spark.createDataFrame([], schema)
    elif m <= threshold:
        out = spark.createDataFrame(twin(edges.collect()), schema)
    else:
        return None
    release(edges)
    return out


def _pagerank_py(edge_rows, iters: int, scale: int) -> dict:
    """The module-docstring recurrence on a collected edge list — the
    small-graph execution of :func:`pagerank_int`. Same div-floor
    integer arithmetic, so both paths return identical ranks."""
    out_w = {}
    adj = []
    for s, d, w, ow in edge_rows:
        out_w[s] = ow
        adj.append((s, d, w))
    nodes = sorted(out_w)
    n = len(nodes)
    rank = {v: scale // n for v in nodes}
    base = ((15 * scale) // 100) // n
    for _ in range(iters):
        acc = dict.fromkeys(nodes, 0)
        for s, d, w in adj:
            # dst-only nodes are not ranked (the distributed path's node
            # set is distinct(src) too) — mass sent to them is dropped
            if d in acc:
                acc[d] += (rank[s] * w) // out_w[s]
        rank = {v: base + (85 * acc[v]) // 100 for v in nodes}
    return rank


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 5,
    scale: int = PAGERANK_SCALE,
    driver_threshold_edges: int = 100_000,
) -> DataFrame:
    """Weighted PageRank, damping 0.85, ``iters`` fixed iterations,
    integer arithmetic throughout (see module docstring for the exact
    recurrence — mirror it verbatim in any oracle).

    ``edges`` is a DIRECTED weighted edge list; symmetrize first for an
    undirected graph. Nodes are whatever appears as ``src`` (in a
    symmetrized graph that is every node). Dangling mass is not
    redistributed — irrelevant for symmetric graphs, document it if you
    feed a DAG. Returns ``(node, rank)`` with rank in 1/scale units.

    The node count is materialized once driver-side (a single bounded
    count, same footprint as any fitted-model scalar); edges+out-weights
    persist across iterations. A graph of at most
    ``driver_threshold_edges`` edges runs on the driver
    (:func:`driver_escape`); 0 forces the distributed path."""
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = e.join(out_w, "src").persist()
    # ONE stats pass decides n, m, and the execution path — the r8
    # build materialized a separate distinct node table and ran two
    # counts before the branch; for the driver path that node table is
    # never needed at all (optimization r8)
    node_type = ew.schema["src"].dataType.simpleString()
    stats = ew.agg(
        F.count(F.lit(1)).alias("m"),
        F.countDistinct("src").alias("n"),
    ).first()
    n, m = stats["n"], stats["m"]
    small = driver_escape(
        ew, m, driver_threshold_edges,
        lambda rows: sorted(_pagerank_py(rows, iters, scale).items()),
        f"node {node_type}, rank bigint",
    )
    if small is not None:
        return small
    nodes = ew.select(F.col("src").alias("node")).distinct().persist()
    seed = scale // n
    base = ((15 * scale) // 100) // n
    ranks = nodes.select("node", F.lit(seed).cast("bigint").alias("rank"))
    for _ in range(iters):
        contrib = ew.join(ranks, ew["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("(rank * w) div out_w").alias("c"),
        )
        agg = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = cut(
            nodes.join(agg, "node", "left").select(
                "node",
                (
                    F.lit(base) + F.expr("(85 * coalesce(s, 0)) div 100")
                ).cast("bigint").alias("rank"),
            ),
            ranks,
        )
    release(ew)
    release(nodes)
    return ranks


def word_adjacency_edges(
    tokens_df: DataFrame,
    tokens_col: str = "tokens",
    min_weight: int = 3,
) -> DataFrame:
    """Undirected word co-occurrence graph from adjacent token pairs
    (TextRank's window-2 graph): weight = adjacency count in EITHER
    order, self-loops dropped, edges under ``min_weight`` pruned (the
    Zipf tail of hapax adjacencies carries no ranking signal and
    dominates the edge count). Returns the SYMMETRIZED directed edge
    list ``(src, dst, w)`` ready for :func:`pagerank_int` — both
    directions are emitted from one row via an inline explode, so the
    aggregated pair table is scanned once."""
    grams = F.when(
        F.size(tokens_col) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tokens_col) - 2),
            lambda i: F.struct(
                F.least(
                    F.col(tokens_col)[i], F.col(tokens_col)[i + 1]
                ).alias("a"),
                F.greatest(
                    F.col(tokens_col)[i], F.col(tokens_col)[i + 1]
                ).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pairs = (
        tokens_df.select(F.explode(grams).alias("g"))
        .filter(F.col("g.a") != F.col("g.b"))
        .groupBy(F.col("g.a").alias("a"), F.col("g.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= min_weight)
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("src"), F.col("b").alias("dst")
                ),
                F.struct(
                    F.col("b").alias("src"), F.col("a").alias("dst")
                ),
            )
        ).alias("e"),
        "w",
    ).select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"), "w")


def textrank_keywords(
    tokens_df: DataFrame,
    tokens_col: str = "tokens",
    k: int = 50,
    min_edge_weight: int = 3,
    iters: int = 5,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Corpus-level TextRank keywords: top-``k`` words by integer
    PageRank over the adjacency graph, ties broken lexically so the
    boundary of the top-k is deterministic. Output
    ``(word, rank_scaled)``."""
    edges = word_adjacency_edges(tokens_df, tokens_col, min_edge_weight)
    ranks = pagerank_int(edges, iters=iters, scale=scale)
    return (
        ranks.select(F.col("node").alias("word"), F.col("rank").alias("rank_scaled"))
        .orderBy(F.desc("rank_scaled"), F.asc("word"))
        .limit(k)
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_degree: int = 2,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected simple graph, via DEGREE-ORDERED edge orientation (the
    MapReduce triangle scheme of Suri & Vassilvitskii, WWW 2011; same
    orientation as Chiba-Nishizeki).

    ``edges`` is any edge list; it is canonicalized (self-loops dropped,
    (u,v)/(v,u)/duplicates collapsed) before counting, so callers can
    pass raw pair output. Returns
    ``(item, degree, triangles, clustering)`` for nodes with degree ≥
    ``min_degree``; ``clustering = 2·T(v) / (d(v)·(d(v)−1))`` rounded to
    6 dp — integer counts into one IEEE division, bit-identical
    cross-engine.

    Scale shape: orienting every edge from its lower-(degree, id)
    endpoint to the higher bounds each node's OUT-degree by O(√m) on any
    graph, so the wedge join (oriented ⨝ oriented on apex) emits
    O(m^{3/2}) candidate wedges worst-case instead of Σ d(v)² — the hub
    that makes the naive node-iterator quadratic contributes apexes only
    for its few higher-ordered neighbors. The closing probe is one more
    hash join of wedges against oriented edges (each triangle closes
    exactly once: its two lowest-ordered corners form the probed edge),
    then one explode + groupBy for the per-corner counts — map-side
    partial aggregation absorbs the 3× incidence fan-out before the
    shuffle. Every join key is a plain column equality (AQE-sizable);
    nothing is collected to the driver."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        canon.select(F.col("u").alias("n"))
        .unionAll(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()
    )
    # Orient each edge from the lower (degree, id) endpoint to the
    # higher; carry the head's (degree, id) so the wedge step can order
    # its two endpoints without re-joining deg.
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    with_deg = canon.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("hi_d"),
    ).persist()
    # Wedges: two out-edges of one apex, endpoints ordered by the same
    # (degree, id) rank so the closing edge is probed in its oriented
    # direction exactly once.
    a = oriented.select(
        F.col("lo").alias("apex"), F.col("hi").alias("b"), F.col("hi_d").alias("b_d")
    )
    b = oriented.select(
        F.col("lo").alias("apex"), F.col("hi").alias("c"), F.col("hi_d").alias("c_d")
    )
    wedges = a.join(b, "apex").filter(
        (F.col("b_d") < F.col("c_d"))
        | ((F.col("b_d") == F.col("c_d")) & (F.col("b") < F.col("c")))
    )
    closed = wedges.join(
        oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c")),
        ["b", "c"],
    )
    tcnt = (
        closed.select(
            F.explode(F.array(F.col("apex"), F.col("b"), F.col("c"))).alias("n")
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    # canon/deg/oriented stay persisted for the returned plan's lifetime
    # (each feeds 2-3 branches of the SAME action); Spark's LRU reclaims
    # them — eager unpersist here would run before any action and negate
    # the cache entirely.
    return (
        deg.filter(F.col("d") >= min_degree)
        .join(tcnt, "n", "left")
        .select(
            F.col("n").alias("item"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                (2.0 * F.coalesce(F.col("t"), F.lit(0)))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering"),
        )
    )


def _core_numbers_py(edge_list) -> dict:
    """Exact core numbers by sequential peeling — the small-graph
    execution of :func:`core_numbers` (same output set: core numbers are
    a graph invariant, so any correct algorithm agrees)."""
    adj: dict = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    alive = set(adj)
    core: dict = {}
    k = 0
    while alive:
        k = max(k, min(deg[v] for v in alive))
        stack = [v for v in alive if deg[v] <= k]
        while stack:
            v = stack.pop()
            if v not in alive:
                continue
            core[v] = k
            alive.remove(v)
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        stack.append(u)
    return core


def core_numbers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 200,
    driver_threshold_edges: int = 100_000,
) -> DataFrame:
    """Per-node k-core numbers (largest k such that the node survives in
    the subgraph where every node has degree ≥ k) — the standard
    dense-subgraph/spam-farm signal, completing the graph family next to
    PageRank, connected components, and triangle counting. Returns
    ``(item, core)``; isolated inputs (self-loops only) are absent.

    Distributed shape: simultaneous peeling — per round, ONE degree
    aggregation and one anti-join removing every node under the current
    k; when a phase reaches its fixpoint, k advances. Each round is
    degree-groupBy + broadcastable low-node anti-join, and every peel
    round cuts the lineage of the edge and alive-node sets. Worst case
    is a long chain (a path graph peels two endpoints per round — O(n)
    rounds); real co-occurrence graphs peel in a handful of rounds per k.

    A graph of at most ``driver_threshold_edges`` canonical edges peels
    on the driver with the sequential twin (:func:`driver_escape`); core
    numbers are a graph invariant, so the output is the same. 0 forces
    the distributed path."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    node_type = canon.schema["u"].dataType.simpleString()
    small = driver_escape(
        canon, canon.count(), driver_threshold_edges,
        lambda rows: sorted(_core_numbers_py(rows).items()),
        f"item {node_type}, core bigint",
    )
    if small is not None:
        return small
    cur = canon
    # explicit alive-node set: a node whose LAST edge disappears (all
    # neighbors peeled) has degree 0 but no edge rows — computing degrees
    # from edges alone would silently drop it; the left join + coalesce 0
    # peels it the following round at core k-1, matching the twin
    alive = (
        canon.select(F.col("u").alias("n"))
        .unionAll(canon.select(F.col("v").alias("n")))
        .distinct()
        .persist()
    )
    k = 1
    done: list[DataFrame] = []
    for _ in range(max_iters):
        edeg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        deg = alive.join(edeg, "n", "left").select(
            "n", F.coalesce(F.col("d"), F.lit(0)).alias("d")
        ).persist()
        low = deg.filter(F.col("d") < k).select("n").persist()
        if low.count() == 0:
            remaining = deg.count()
            release(low)
            release(deg)
            if remaining == 0:
                break
            k += 1
            continue
        done.append(
            cut(
                low.select(
                    F.col("n").alias("item"),
                    F.lit(k - 1).cast("bigint").alias("core"),
                )
            )
        )
        # cut EVERY round: deg references cur AND alive, low references
        # deg, the next edge set references cur+low — un-truncated, the
        # plan multiplies ~3x per round and explainString alone OOMs the
        # driver within ~15 rounds
        cur = cut(
            cur.join(low.withColumnRenamed("n", "u"), "u", "left_anti")
            .join(low.withColumnRenamed("n", "v"), "v", "left_anti")
            .select("u", "v"),
            cur,
        )
        alive = cut(alive.join(low, "n", "left_anti"), alive)
        release(low)
        release(deg)
    else:
        for df in (cur, alive, *done):
            release(df)
        raise RuntimeError(
            f"core_numbers did not converge in {max_iters} rounds "
            "(pathological chain graph? raise max_iters)"
        )
    # one checkpoint of the union keeps the output's plan flat and lets
    # every per-phase entry go
    out = done[0]
    for d in done[1:]:
        out = out.unionAll(d)
    return cut(out, *done, cur, alive)


def _hits_py(edge_rows, iters: int, scale: int) -> dict:
    """Driver-side execution of :func:`hits_int` — the identical
    L1-normalized integer recurrence on a collected edge list."""
    nodes = set()
    adj = []
    for s, d, w in edge_rows:
        nodes.add(s)
        nodes.add(d)
        adj.append((s, d, int(w)))
    nodes = sorted(nodes)
    n = len(nodes)
    hub = {v: scale // n for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(iters):
        araw = dict.fromkeys(nodes, 0)
        for s, d, w in adj:
            araw[d] += w * hub[s]
        asum = sum(araw.values())
        auth = {
            v: ((araw[v] * scale) // asum if asum > 0 else 0) for v in nodes
        }
        hraw = dict.fromkeys(nodes, 0)
        for s, d, w in adj:
            hraw[s] += w * auth[d]
        hsum = sum(hraw.values())
        hub = {
            v: ((hraw[v] * scale) // hsum if hsum > 0 else 0) for v in nodes
        }
    return {v: (hub[v], auth[v]) for v in nodes}


def hits_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 5,
    scale: int = PAGERANK_SCALE,
    driver_threshold_edges: int = 100_000,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in integer arithmetic —
    the link-analysis companion of :func:`pagerank_int`, normalized L1
    (sum-to-scale) instead of the classic L2 so every step is exact
    div-floor int64 and any oracle can unroll the identical recurrence:

        hub_0(v)  = scale div n          over nodes = src ∪ dst
        a_raw(v)  = Σ_{u→v} w·hub(u);  a(v) = (a_raw·scale) div Σ a_raw
        h_raw(v)  = Σ_{v→u} w·a(u);    hub(v) = (h_raw·scale) div Σ h_raw

    (authorities update from current hubs FIRST, then hubs from the new
    authorities — the classic ordering). Zero-sum guards return 0 ranks.
    Returns ``(node, hub, auth)`` in 1/scale units.

    Overflow bound: ranks ≤ scale, so a node's raw ≤ (its weighted
    in-degree)·scale ≤ W·scale where W = total edge weight, and the
    normalization's ``raw·scale`` intermediate needs W·scale² < 2⁶³ —
    i.e. W < 9.2e18/scale². The PageRank default scale=1e9 only allows
    W < ~9, so HITS callers pass a scale sized to their graph
    (scale=1e6 allows W < 9.2e6 — ample for host graphs, and 1e-6-unit
    ranks carry more than enough hash precision).

    Same coarse-to-fine discipline as :func:`pagerank_int`: collected
    driver execution under ``driver_threshold_edges``, else distributed
    join-agg rounds; the integer math is bit-identical on either path."""
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    ).persist()
    # one count decides the path (n == 0 ⟺ m == 0 — nodes are edge
    # endpoints); the node table is only built for the distributed
    # path (optimization r8)
    node_type = e.schema["src"].dataType.simpleString()
    small = driver_escape(
        e, e.count(), driver_threshold_edges,
        lambda rows: sorted(
            (k, h, a) for k, (h, a) in _hits_py(rows, iters, scale).items()
        ),
        f"node {node_type}, hub bigint, auth bigint",
    )
    if small is not None:
        return small
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    hub = nodes.select("node", F.lit(scale // n).cast("bigint").alias("r"))

    def _norm(raw: DataFrame) -> DataFrame:
        tot = raw.agg(F.sum("raw").alias("t"))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.when(
                    F.col("t") > 0,
                    F.expr("(coalesce(raw, 0) * %d) div t" % scale),
                )
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("r"),
            )
        )

    # each half-round reads its source twice (join + total), so an uncut
    # plan doubles per half-round: cut both every round, authorities
    # first, since the new hubs read them
    auth = None
    for _ in range(iters):
        araw = (
            e.join(hub, e["src"] == hub["node"])
            .select(F.col("dst").alias("node"), F.expr("w * r").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("raw"))
        )
        auth = cut(_norm(araw), auth)
        hraw = (
            e.join(auth.withColumnRenamed("node", "_an"), e["dst"] == F.col("_an"))
            .select(F.col("src").alias("node"), F.expr("w * r").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("raw"))
        )
        hub = cut(_norm(hraw), hub)
    out = cut(
        hub.withColumnRenamed("r", "hub")
        .join(auth.select("node", F.col("r").alias("auth")), "node"),
        hub, auth,
    )
    release(e)
    release(nodes)
    return out


def _label_prop_py(edge_rows, iters: int) -> dict:
    """Driver-side execution of :func:`label_propagation` — identical
    synchronous max-weight/min-label updates (with the self-preference
    term) on a collected edge list."""
    from collections import defaultdict

    nbrs = defaultdict(dict)
    for s, d, w in edge_rows:
        if s == d:
            continue
        w = int(w)
        nbrs[s][d] = nbrs[s].get(d, 0) + w
        nbrs[d][s] = nbrs[d].get(s, 0) + w
    nodes = sorted(nbrs)
    # self-preference: own current label weighted at the node's max
    # incident edge weight (see label_propagation docstring)
    for v in nodes:
        nbrs[v][v] = max(nbrs[v].values())
    label = {v: v for v in nodes}
    for _ in range(iters):
        nxt = {}
        for v in nodes:
            scores = defaultdict(int)
            for u, w in nbrs[v].items():
                scores[label[u]] += w
            mx = max(scores.values())  # every node has >=1 neighbor
            nxt[v] = min(lab for lab, s in scores.items() if s == mx)
        label = nxt
    return label


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 4,
    driver_threshold_edges: int = 100_000,
) -> DataFrame:
    """Community detection by SYNCHRONOUS weighted label propagation
    (Raghavan et al. 2007, made deterministic): every node starts as its
    own label; each round, simultaneously, a node adopts the label with
    the maximum total incident edge weight among its neighbors PLUS a
    self-preference term — its own current label counted at the node's
    maximum incident edge weight — with ties broken by the
    lexicographically SMALLEST label. The self term is what kills the
    classic synchronous failure mode: on a bare edge a—b, pure
    synchronous updates swap labels forever, while the self term turns
    round one into a tie that the total-order tiebreak collapses to
    min(a, b) — converged. Fixed ``iters`` rounds (synchronous +
    total-order tiebreak = reproducible and oracle-able — the textbook
    async random-order variant is neither). Input edges are treated as
    undirected (symmetrized, parallel weights summed, input self-loops
    dropped before the self term is added). Returns ``(node,
    community)``.

    Scale shape per round: one join labels→edges (shuffle on node), one
    (node, label) partial-aggregated groupBy, one max-per-node groupBy,
    and one min-label join back — groupBys all the way down (no window
    ever buffers a node's neighborhood in one task); AQE handles skewed
    hubs. Same coarse-to-fine discipline as :func:`pagerank_int`; the
    update rule is bit-identical on either path."""
    e0 = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight).cast("long").alias("w"),
    )
    # symmetrize by exploding each edge into its two directions in ONE
    # pass (optimization r9): the union-of-swapped-selects form planned
    # the upstream edge-build subtree TWICE — and for the host-graph
    # callers that subtree is the regex-heavy link extraction with no
    # shuffle inside and no persist, so neither runtime exchange reuse
    # nor the cache can deduplicate it. Same row multiset into the same
    # groupBy — identical output. Locally this measures flat
    # (control-normalized, matched sessions — idle cores absorb the
    # duplicate arm); the win is CPU at scale, where the extraction is
    # throughput-bound and the duplicate arm is a genuine 2x.
    sym_pairs = (
        e0.filter(F.col("a") != F.col("b"))
        .select(
            F.explode(
                F.array(
                    F.struct("a", "b", "w"),
                    F.struct(
                        F.col("b").alias("a"),
                        F.col("a").alias("b"),
                        F.col("w").alias("w"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b", "_e.w")
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    selfw = sym_pairs.groupBy("a").agg(F.max("w").alias("w")).select(
        "a", F.col("a").alias("b"), "w"
    )
    sym = sym_pairs.unionByName(selfw).persist()
    # one count decides the path; the node table is only built for the
    # distributed path (optimization r8)
    node_type = sym.schema["a"].dataType.simpleString()
    small = driver_escape(
        sym, sym.count(), driver_threshold_edges,
        lambda rows: sorted(_label_prop_py(rows, iters).items()),
        f"node {node_type}, community {node_type}",
    )
    if small is not None:
        return small
    nodes = sym.select(F.col("a").alias("node")).distinct().persist()
    labels = nodes.select("node", F.col("node").alias("community"))
    for _ in range(iters):
        scores = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("community").alias("nl")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"), F.col("nl").alias("lab"))
            .agg(F.sum("w").alias("s"))
        )
        mx = scores.groupBy("node").agg(F.max("s").alias("mxs"))
        labels = cut(
            scores.join(mx, "node")
            .filter(F.col("s") == F.col("mxs"))
            .groupBy("node")
            .agg(F.min("lab").alias("community")),
            labels,
        )
    release(sym)
    release(nodes)
    return labels
