"""GNM network analysis: shortest path, K-shortest paths, connected
components (SURVEY.md §1.3 / reference ``core/gnm/gnmgraph.cpp:176``
DijkstraShortestPath, ``:233`` KShortestPaths, ``:300``
ConnectedComponents).

Distributed shapes:
- **shortest_path_tree**: Bellman–Ford-style iterative relaxation as
  DataFrame joins (each round relaxes every edge; converges in
  O(graph diameter) rounds, each one shuffle on the edge list). This is
  the scalable form of Dijkstra for 10^9-edge graphs where a priority
  queue cannot exist; localCheckpoint truncates the iterative lineage.
- **k_shortest_paths**: Yen's algorithm over the driver-collected
  subgraph under a row guard — K-shortest is inherently sequential and
  the reference runs it on an in-memory graph too (gnmgraph.cpp:233).
- **graph_connected_components**: delegates to the large-star/small-star
  machinery (operators.components).
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lib_gdal_spark.operators.components import connected_components


def graph_connected_components(edges: DataFrame) -> DataFrame:
    """(u, v) edge list -> (label, component). GNMGraph::ConnectedComponents."""
    return connected_components(edges)


def shortest_path_tree(
    edges: DataFrame,
    source: int | list,
    directed: bool = False,
    max_rounds: int = 50,
) -> DataFrame:
    """Single- or multi-source shortest distances: (node, dist, prev).

    ``edges``: (u long, v long, w double). Iterative relaxation: dist' =
    min(dist, min over incoming (dist[u] + w)). Stops when no distance
    improves (converged) or after ``max_rounds``. A list ``source``
    seeds every listed node at distance 0 (the multi-source transform —
    cost_distance's seed set; equivalent to a virtual super-source with
    zero-weight edges, without materializing it).
    """
    e = edges.select(
        F.col(edges.columns[0]).alias("u"),
        F.col(edges.columns[1]).alias("v"),
        F.col(edges.columns[2]).cast("double").alias("w"),
    )
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    e = e.localCheckpoint()

    sources = (list(source) if isinstance(source, (list, tuple, set))
               else [int(source)])  # int() accepts numpy scalars too
    from lib_gdal_spark.session import local_df
    dist = local_df(
        e.sparkSession, [(int(s), 0.0, None) for s in sources],
        "node long, dist double, prev long",
    )
    prev_sig = None
    for _ in range(max_rounds):
        cand = (
            e.join(dist.select(F.col("node").alias("u"),
                               F.col("dist").alias("du")), "u")
            .select(F.col("v").alias("node"),
                    (F.col("du") + F.col("w")).alias("dist"),
                    F.col("u").alias("prev"))
        )
        merged = (
            dist.unionByName(cand)
            .groupBy("node")
            # lexicographic (dist, prev) ordering: ties at the minimal
            # distance break to the SMALLEST predecessor id, so the
            # shortest-path tree (and any path backtracked through it)
            # is deterministic and an independent oracle can reproduce
            # it. dist alone would leave prev arbitrary on ties.
            .agg(F.min_by(F.struct("dist", "prev"),
                          F.struct("dist", "prev")).alias("s"))
            .select("node", F.col("s.dist").alias("dist"),
                    F.col("s.prev").alias("prev"))
            .localCheckpoint()
        )
        # convergence: (count, dist-sum) stable vs the PREVIOUS round's
        # signature — one aggregate per round, not two
        b = merged.agg(F.count(F.lit(1)), F.sum("dist")).first()
        sig = (b[0], b[1])
        dist = merged
        if sig == prev_sig:
            break
        prev_sig = sig
    return dist


def shortest_path(
    edges: DataFrame, source: int, target: int, directed: bool = False,
    max_driver_nodes: int = 10_000_000,
) -> tuple[list[int], float]:
    """Node path + cost, reconstructed from the distributed tree.

    The TREE computation is fully distributed; reconstructing one path
    collects (node, prev) pairs — O(reachable nodes) driver rows, guarded
    by ``max_driver_nodes`` (a path query's answer is driver-sized by
    nature; for bulk distances consume ``shortest_path_tree`` directly).
    """
    tree = shortest_path_tree(edges, source, directed=directed)
    n = tree.count()
    if n > max_driver_nodes:
        raise RuntimeError(
            f"shortest_path would collect {n} tree rows; consume "
            "shortest_path_tree as a DataFrame instead"
        )
    rows = {r["node"]: (r["dist"], r["prev"]) for r in tree.collect()}
    if target not in rows:
        return [], float("inf")
    path = [target]
    while path[-1] != source:
        path.append(rows[path[-1]][1])
    return list(reversed(path)), rows[target][0]


def _dijkstra_local(adj, source, target, removed_edges, removed_nodes):
    dist = {source: 0.0}
    prev = {}
    pq = [(0.0, source)]
    seen = set()
    while pq:
        d, u = heapq.heappop(pq)
        if u in seen:
            continue
        seen.add(u)
        if u == target:
            break
        for v, w in adj.get(u, ()):
            if v in removed_nodes or (u, v) in removed_edges:
                continue
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                prev[v] = u
                heapq.heappush(pq, (nd, v))
    if target not in dist:
        return None, float("inf")
    path = [target]
    while path[-1] != source:
        path.append(prev[path[-1]])
    return list(reversed(path)), dist[target]


def k_shortest_paths(
    edges: DataFrame,
    source: int,
    target: int,
    k: int = 3,
    directed: bool = False,
    max_driver_edges: int = 5_000_000,
) -> list[tuple[list[int], float]]:
    """Yen's K-shortest loopless paths (GNMGraph::KShortestPaths).

    Runs over the collected edge list under ``max_driver_edges`` — the
    reference's implementation is equally in-memory; the distributed path
    for plain shortest distance is ``shortest_path_tree``.
    """
    n = edges.count()
    if n > max_driver_edges:
        raise RuntimeError(
            f"k_shortest_paths edge list ({n}) exceeds {max_driver_edges}"
        )
    rows = edges.collect()
    adj: dict[int, list[tuple[int, float]]] = {}
    c0, c1, c2 = edges.columns[:3]
    for r in rows:
        adj.setdefault(r[c0], []).append((r[c1], float(r[c2])))
        if not directed:
            adj.setdefault(r[c1], []).append((r[c0], float(r[c2])))

    first, cost = _dijkstra_local(adj, source, target, set(), set())
    if first is None:
        return []
    A = [(first, cost)]
    B: list[tuple[float, list[int]]] = []
    while len(A) < k:
        prev_path = A[-1][0]
        for i in range(len(prev_path) - 1):
            spur = prev_path[i]
            root = prev_path[: i + 1]
            removed_edges = set()
            for p, _ in A:
                if p[: i + 1] == root and len(p) > i + 1:
                    removed_edges.add((p[i], p[i + 1]))
                    if not directed:
                        removed_edges.add((p[i + 1], p[i]))
            removed_nodes = set(root[:-1])
            sp, sc = _dijkstra_local(adj, spur, target,
                                     removed_edges, removed_nodes)
            if sp is None:
                continue
            root_cost = 0.0
            for j in range(i):
                w = min(w_ for v_, w_ in adj[prev_path[j]]
                        if v_ == prev_path[j + 1])
                root_cost += w
            total = root[:-1] + sp
            item = (root_cost + sc, total)
            if item not in B and all(total != p for p, _ in A):
                heapq.heappush(B, item)
        if not B:
            break
        c, p = heapq.heappop(B)
        A.append((p, c))
    return A


def pagerank(
    edges: DataFrame,
    n_iters: int = 4,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank (Brin & Page 1998) over a directed edge list (u, v) —
    the canonical web-link-graph operator — in EXACT integer arithmetic:
    ranks live in ``scale`` fixed-point units, every division is integer
    ``div`` and every sum is an int64 sum, so the result is bit-identical
    at any parallelism and in any engine (the float formulation is
    order-dependent and cannot be oracled). ``damping_pct`` is the
    damping factor in percent (85 = the classic 0.85).

    Per iteration: contribution of u = rank_u div outdeg_u along each
    edge; dangling nodes (no out-edges) redistribute rank div n to
    everyone; new rank = (100-d)% * scale div n + d% * (inflow +
    dangling share), all floor divisions. Fixed ``n_iters`` (power
    iteration; 4 rounds ranks a crawl's head reliably — convergence to a
    tolerance would make the op data-dependent and un-unrollable).

    Scale shape: each round is ONE shuffle — join ranks to edges on u
    (rank table is n rows; broadcast when small, shuffle-hash otherwise)
    and a map-side combinable groupBy(v). The dangling mass is a 1-row
    aggregate. Lineage is truncated per round with localCheckpoint, as
    in shortest_path_tree. Returns (node, rank_units, rank) with
    sum(rank_units) <= scale (floor-division mass loss only).
    """
    e = edges.select(
        F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v")
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    base = int(((100 - damping_pct) * scale) // (100 * n))
    ranks = nodes.withColumn(
        "r", F.lit(int(scale // n)).cast("long")
    ).localCheckpoint()
    for _ in range(n_iters):
        with_deg = ranks.join(deg, ranks["node"] == deg["u"], "left")
        # dangling mass folds in as a broadcast 1-row frame so each
        # iteration is ONE materialized job, not two
        dang = with_deg.where(F.col("d").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).alias("__dang")
        )
        inflow = (
            e.join(
                with_deg.where(F.col("d").isNotNull()).select(
                    "node", F.expr("r div d").alias("c")
                ),
                e["u"] == F.col("node"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(inflow, nodes["node"] == inflow["v"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_pct} * (coalesce(s, 0) "
                        f"+ (__dang div {n}))) div 100"
                    )
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_units"),
        F.round(F.col("r") / scale, 9).alias("rank"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts: (node, triangles), nodes in >=1 triangle.

    ``edges``: (u long, v long), treated as an undirected simple graph
    (self-loops dropped, duplicates and direction collapsed).

    Distributed shape (Suri & Vassilvitskii, "Counting Triangles and the
    Curse of the Last Reducer", WWW 2011): orient every undirected edge
    from its (degree, id)-smaller endpoint to the larger one. Every
    vertex then has out-degree O(sqrt(m)) regardless of hub skew, so the
    wedge-generating self-join — the only quadratic step — is bounded
    per-vertex: a web-graph hub with 10^7 neighbors contributes wedges
    only through its low-degree side. Wedges (a->b, a->c) with b before
    c in the same order close into a triangle iff oriented edge (b->c)
    exists: one hash equi-join against the oriented edge list. Each
    triangle is found exactly once (at its order-minimal apex), then
    exploded to its three corners for the per-vertex aggregate. Three
    shuffles total (degree agg, wedge self-join, closing join), all on
    keys — no geometry moves because there is none.

    Parity: the result is orientation-independent (a triangle is a
    triangle), so any independent enumeration — e.g. DuckDB's three-way
    self-join on u<v edges — is a valid oracle.
    """
    e0 = (
        edges.select(
            F.least(F.col(edges.columns[0]), F.col(edges.columns[1]))
            .cast("long").alias("u"),
            F.greatest(F.col(edges.columns[0]), F.col(edges.columns[1]))
            .cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient: src = endpoint with lexicographically smaller (deg, id)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = e0.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).localCheckpoint()
    # wedges at apex a: out-neighbors b, c with (deg,id)(b) < (deg,id)(c);
    # the closing edge, if present, is then oriented b -> c
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col("ddst").alias("db"),
    )
    o2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.col("ddst").alias("dc"),
    )
    wedges = o1.join(o2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("triangles")
    )


def hits(edges: DataFrame, n_iters: int = 4,
         scale: int = 10**6) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over a directed edge list
    (u, v), in EXACT integer arithmetic like :func:`pagerank`: scores
    live in ``scale`` fixed-point units and each round L1-normalizes
    with integer division (sum-normalization keeps the ranking of the
    classic L2 variant — normalization never reorders — while staying
    order-independent and oracle-able; the float L2 form is neither).

    Per iteration: auth_raw(v) = Σ hub(u) over in-edges, renormalized to
    ``scale`` total; hub_raw(u) = Σ auth(v) over out-edges, same. Two
    keyed shuffles per round (groupBy v, groupBy u) plus two 1-row
    total aggregates folded in as broadcast frames — the same
    one-job-per-round shape as pagerank, lineage truncated per round.
    """
    e = edges.select(F.col("u").cast("long").alias("u"),
                     F.col("v").cast("long").alias("v"))
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node"))).distinct())
    h = nodes.withColumn("h", F.lit(int(scale)).cast("long")) \
        .localCheckpoint()
    a = None
    for _ in range(n_iters):
        a_raw = e.join(h, e["u"] == h["node"]).groupBy("v") \
            .agg(F.sum("h").alias("ar"))
        ta = a_raw.agg(F.coalesce(F.sum("ar"), F.lit(1)).alias("ta"))
        a = (nodes.join(a_raw, nodes["node"] == a_raw["v"], "left")
             .crossJoin(F.broadcast(ta))
             .select("node", F.expr(
                 f"(coalesce(ar, 0) * {int(scale)}) div ta").alias("a"))
             .localCheckpoint())
        h_raw = e.join(a, e["v"] == a["node"]).groupBy("u") \
            .agg(F.sum("a").alias("hr"))
        th = h_raw.agg(F.coalesce(F.sum("hr"), F.lit(1)).alias("th"))
        h = (nodes.join(h_raw, nodes["node"] == h_raw["u"], "left")
             .crossJoin(F.broadcast(th))
             .select("node", F.expr(
                 f"(coalesce(hr, 0) * {int(scale)}) div th").alias("h"))
             .localCheckpoint())
    return h.join(a, "node").select(
        "node", F.col("h").alias("hub_units"),
        F.col("a").alias("auth_units"),
        (F.col("h") / float(scale)).alias("hub"),
        (F.col("a") / float(scale)).alias("auth"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iters: int = 4,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank / TrustRank (Gyongyi, Garcia-Molina &
    Pedersen, VLDB'04): identical to :func:`pagerank` except the
    teleport mass — and the dangling-node mass, per the TrustRank
    convention — lands ONLY on the ``seeds`` set instead of uniformly on
    all nodes, so rank diffuses outward from trusted pages and spam
    islands unreachable from the seeds receive 0.

    Same exact int64 fixed-point arithmetic (order-free, oracle-able),
    same one-shuffle-per-round shape; the seed membership flag is one
    extra broadcast-sized left join. ``seeds``'s first column is the
    node id; seeds absent from the graph's node set are ignored
    (contributing no teleport mass — n_seeds counts graph members only).
    """
    e = edges.select(
        F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v")
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    sd = seeds.select(
        F.col(seeds.columns[0]).cast("long").alias("node")
    ).distinct().join(nodes, "node").localCheckpoint()
    ns = sd.count()
    if ns == 0:
        raise ValueError("personalized_pagerank: no seed is a graph node")
    nodes = nodes.join(
        sd.withColumn("__seed", F.lit(True)), "node", "left"
    ).select("node", F.coalesce("__seed", F.lit(False)).alias("__seed"))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    base_seed = int(((100 - damping_pct) * scale) // (100 * ns))
    ranks = nodes.withColumn(
        "r",
        F.when(F.col("__seed"), F.lit(int(scale // ns)))
        .otherwise(F.lit(0)).cast("long"),
    ).localCheckpoint()
    for _ in range(n_iters):
        with_deg = ranks.join(deg, ranks["node"] == deg["u"], "left")
        dang = with_deg.where(F.col("d").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).alias("__dang")
        )
        inflow = (
            e.join(
                with_deg.where(F.col("d").isNotNull()).select(
                    "node", F.expr("r div d").alias("c")
                ),
                e["u"] == F.col("node"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(inflow, nodes["node"] == inflow["v"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node", "__seed",
                F.when(
                    F.col("__seed"),
                    F.lit(base_seed).cast("long")
                    + F.expr(
                        f"({damping_pct} * (coalesce(s, 0) "
                        f"+ (__dang div {ns}))) div 100"
                    ),
                ).otherwise(
                    F.expr(f"({damping_pct} * coalesce(s, 0)) div 100")
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        "node",
        F.col("__seed").alias("is_seed"),
        F.col("r").alias("rank_units"),
        F.round(F.col("r") / scale, 9).alias("rank"),
    )


def lpa_communities(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Community detection by label propagation (Raghavan, Albert &
    Kumara 2007), in the deterministic synchronous variant every engine
    can replay: each round, a node's vote multiset is its neighbors'
    labels plus ONE self vote (damps the bipartite oscillation of pure
    LPA), and the winner is the most frequent label with ties to the
    MINIMUM label — the paper's random tie-break made order-free. Fixed
    ``rounds`` (data-independent, so the oracle unrolls it); labels
    start as node ids; edges are treated as undirected.

    Returns (node, community). Scale shape: per round, one equi-join of
    the label table onto the symmetrized edge list + one combinable
    (node, label) count + one rank window keyed by node — all shuffles
    carry (long, long) keys only; lineage truncated per round. The
    component minimum is NOT guaranteed (communities are denser than
    components); use connected_components for reachability semantics.
    """
    from pyspark.sql import Window

    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("u"),
        F.col(edges.columns[1]).cast("long").alias("v"),
    ).where(F.col("u") != F.col("v"))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
        .distinct().localCheckpoint()
    labels = (
        sym.select(F.col("u").alias("node")).distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    win = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("lbl"))
    for _ in range(rounds):
        nbr = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "lbl")
        )
        votes = nbr.unionByName(labels)          # + one self vote
        counts = votes.groupBy("node", "lbl").agg(
            F.count(F.lit(1)).alias("n"))
        labels = (
            counts.withColumn("__rk", F.row_number().over(win))
            .where(F.col("__rk") == 1)
            .select("node", "lbl")
            .localCheckpoint()
        )
    return labels.select("node", F.col("lbl").alias("community"))


def degree_stats(edges: DataFrame) -> DataFrame:
    """Whole-graph topology summary for a directed edge list — the
    link-graph health metrics crawl pipelines monitor: node/edge
    counts, reciprocity (Garlaschelli & Loffredo 2004: fraction of
    directed edges whose reverse also exists), and Newman's degree
    assortativity (Newman 2002: the Pearson correlation of the
    endpoint total-degrees over the undirected edge multiset).

    One row out. Exactness: every Pearson term is an int64 sum of
    integer degrees (degrees bounded by n, sums by n*m — no overflow at
    web scale thanks to the 2^63 headroom), so only the FINAL division
    and sqrt are floating point — one expression, engine-identical.
    Shape: two combinable degree aggregates, one self-join for
    reciprocity, one edge-degree join — all keys-only shuffles.
    """
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("u"),
        F.col(edges.columns[1]).cast("long").alias("v"),
    ).where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    n_edges = e.count()
    nodes = (e.select(F.col("u").alias("node"))
             .union(e.select(F.col("v").alias("node"))).distinct())
    n_nodes = nodes.count()
    recip = (e.alias("a")
             .join(e.alias("b"),
                   (F.col("a.u") == F.col("b.v"))
                   & (F.col("a.v") == F.col("b.u")))
             .count())
    # total degree (in + out) per node over the distinct directed edges
    deg = (e.select(F.col("u").alias("node"))
           .union(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    # undirected edge multiset: each directed edge contributes its
    # endpoint degree pair once (Newman's formulation over edges)
    ed = (e.join(deg.withColumnRenamed("node", "u")
                 .withColumnRenamed("d", "du"), "u")
          .join(deg.withColumnRenamed("node", "v")
                .withColumnRenamed("d", "dv"), "v"))
    sums = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") + F.col("dv")).alias("sx"),
        F.sum(F.col("du") * F.col("du")
              + F.col("dv") * F.col("dv")).alias("sxx"),
    ).first()
    m, sxy, sx, sxx = (sums["m"], sums["sxy"], sums["sx"], sums["sxx"])
    spark = edges.sparkSession
    from lib_gdal_spark.session import local_df
    out = local_df(
        spark, [(n_nodes, n_edges, recip, m, sxy, sx, sxx)],
        "n_nodes long, n_edges long, n_recip long, m long, "
        "sxy long, sx long, sxx long")
    # spelled as explicit multiplications (pow(x, 2) is not guaranteed
    # identical to x*x across libms; the product is)
    half = F.col("sx") / (2 * F.col("m"))
    num = F.col("sxy") / F.col("m") - half * half
    den = F.col("sxx") / (2 * F.col("m")) - half * half
    return out.select(
        "n_nodes", "n_edges",
        F.round(F.col("n_recip") / F.col("n_edges"), 6).alias("reciprocity"),
        # degree-regular graphs have zero variance: assortativity is
        # undefined -> NULL (ANSI division would throw)
        F.round(F.when(den != 0.0, num / den), 6).alias("assortativity"),
    )


def _driver_kcore_peel(rows: list, k: int) -> dict:
    """Bounded symmetric edge list -> {node: core degree} by exact
    Matula-Beck bucket peeling. Only called on a residual that already
    fits the driver (same contract as components._driver_union_find)."""
    adj: dict = {}
    for r in rows:
        adj.setdefault(r[0], set()).add(r[1])
    deg = {n: len(vs) for n, vs in adj.items()}
    frontier = [n for n, d in deg.items() if d < k]
    while frontier:
        nxt = []
        for n in frontier:
            if n not in adj:
                continue
            for m in adj.pop(n):
                vs = adj.get(m)
                if vs is not None:
                    vs.discard(n)
                    if len(vs) == k - 1:
                        nxt.append(m)
        frontier = nxt
    return {n: len(vs) for n, vs in adj.items() if len(vs) >= k}


def kcore(edges: DataFrame, k: int = 3, max_rounds: int = 50,
          driver_threshold: int = 2_000_000) -> DataFrame:
    """The k-core of an undirected graph (Seidman 1983): the maximal
    subgraph where every node keeps degree >= k — the spam-farm /
    tightly-knit-community detector that survives where degree alone
    lies. Iterative peeling: drop nodes under degree k, recompute,
    repeat to the fixpoint (each round one combinable degree count +
    one semi-join, lineage truncated).

    Scale note: bulk peeling converges in few rounds on web graphs, but
    an adversarial pendant chain peels ONE node per round (O(n) rounds).
    Mirroring components.connected_components' short-circuit, once the
    surviving symmetric edge list fits ``driver_threshold`` rows the
    residual peels exactly on the driver in one pass (Matula-Beck
    buckets) — the distributed rounds only ever run while the graph is
    genuinely large, so ``max_rounds`` bounds rounds-at-scale, not
    correctness.

    Returns (node, core_deg) for k-core members, core_deg = the node's
    degree inside the core."""
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("u"),
        F.col(edges.columns[1]).cast("long").alias("v"),
    ).where(F.col("u") != F.col("v"))
    sym = (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
           .distinct().localCheckpoint())

    def _finish_local(cur: DataFrame) -> DataFrame:
        core = _driver_kcore_peel(cur.collect(), k)
        spark = cur.sparkSession
        if not core:
            return spark.createDataFrame([], "node long, core_deg long")
        return spark.createDataFrame(
            [(n, d) for n, d in core.items()], "node long, core_deg long")

    cur = sym
    m = cur.count()
    prev_nodes = -1
    for _ in range(max_rounds):
        if m <= driver_threshold:
            return _finish_local(cur)
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("u").localCheckpoint()
        n = keep.count()
        if n == prev_nodes:
            break
        prev_nodes = n
        cur = (cur.join(keep, "u")
               .join(keep.withColumnRenamed("u", "v"), "v")
               .select("u", "v").localCheckpoint())
        m = cur.count()
    else:
        raise RuntimeError(f"kcore did not converge in {max_rounds} rounds")
    return (cur.groupBy("u").agg(F.count(F.lit(1)).alias("core_deg"))
            .where(F.col("core_deg") >= k)
            .select(F.col("u").alias("node"), "core_deg"))


def coreness(edges: DataFrame, max_k: int = 64,
             max_rounds: int = 50) -> DataFrame:
    """Full k-core (coreness) decomposition (Seidman 1983; the
    Batagelj-Zaversnik onion): every node's maximum k such that it
    survives in the k-core — the standard web-graph "depth" measure a
    single :func:`kcore` call at fixed k cannot give.

    Monotone nesting makes this incremental: the (k+1)-peel starts from
    the k-core's edges, so total work is O(sum of shrinking subgraphs),
    not k independent peels of the full graph. Each peel round is one
    combinable degree count + two semi-joins with lineage truncation
    (the kcore shape); nodes dropped while peeling at level k have
    coreness k - 1 exactly. Every count is exact int64 and the
    membership sets are deterministic, so an unrolled SQL peel
    reproduces the labels verbatim. Returns (node, coreness)."""
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("u"),
        F.col(edges.columns[1]).cast("long").alias("v"),
    ).where(F.col("u") != F.col("v"))
    sym = (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
           .distinct().localCheckpoint())
    spark = edges.sparkSession
    prev_nodes = sym.select("u").distinct().localCheckpoint()
    remaining = sym
    labels = None
    for k in range(2, max_k + 1):
        cur = remaining
        for _ in range(max_rounds):
            deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.where(F.col("d") >= k).select("u").localCheckpoint()
            nxt = (cur.join(keep, "u")
                   .join(keep.withColumnRenamed("u", "v"), "v")
                   .select("u", "v").localCheckpoint())
            if nxt.count() == cur.count():
                cur = nxt
                break
            cur = nxt
        cur_nodes = cur.select("u").distinct().localCheckpoint()
        dropped = prev_nodes.join(cur_nodes, "u", "left_anti") \
            .select(F.col("u").alias("node"),
                    F.lit(k - 1).cast("long").alias("coreness"))
        labels = dropped if labels is None \
            else labels.unionByName(dropped).localCheckpoint()
        if cur_nodes.isEmpty():
            return labels
        prev_nodes = cur_nodes
        remaining = cur
    raise RuntimeError(f"coreness exceeded max_k={max_k}")


def _edge_support(c: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (u<v) edge list:
    (u, v, support) for every edge of ``c`` (support 0 kept via the
    left join). Same degree-oriented wedge enumeration as
    triangle_counts (Suri & Vassilvitskii, WWW 2011) so hub wedges stay
    O(sqrt(m)) per vertex; each triangle is found once at its
    order-minimal apex and exploded to its three canonical edges."""
    deg = (c.select(F.col("u").alias("node"))
           .unionAll(c.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = c.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    ).localCheckpoint()
    o1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                         F.col("dd").alias("db"))
    o2 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"),
                         F.col("dd").alias("dc"))
    wedges = o1.join(o2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c"))))
    closing = oriented.select(F.col("src").alias("b"),
                              F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    side = [tri.select(F.least(x, y).alias("u"), F.greatest(x, y).alias("v"))
            for x, y in (("a", "b"), ("a", "c"), ("b", "c"))]
    sup = (side[0].unionAll(side[1]).unionAll(side[2])
           .groupBy("u", "v").agg(F.count("*").alias("support")))
    return (c.join(sup, ["u", "v"], "left")
            .select("u", "v", F.coalesce("support", F.lit(0))
                    .alias("support")))


def _driver_ktruss_peel(rows: list, k: int) -> dict:
    """Bounded canonical edge list -> {(u, v): in-truss support} by
    exact queue peeling. Only called on a residual that fits the
    driver (same contract as _driver_kcore_peel)."""
    from collections import deque

    adj: dict = {}
    for u, v in rows:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    edges = {(u, v) for u, v in rows}
    sup = {(u, v): len(adj[u] & adj[v]) for u, v in edges}
    q = deque(e for e in edges if sup[e] < k - 2)
    while q:
        u, v = q.popleft()
        if (u, v) not in edges:
            continue
        edges.discard((u, v))
        adj[u].discard(v)
        adj[v].discard(u)
        for w in adj[u] & adj[v]:
            for e2 in ((min(u, w), max(u, w)), (min(v, w), max(v, w))):
                if e2 in edges:
                    sup[e2] -= 1
                    if sup[e2] < k - 2:
                        q.append(e2)
    return {e: sup[e] for e in edges}


def ktruss(edges: DataFrame, k: int = 4, max_rounds: int = 50,
           driver_threshold: int = 2_000_000) -> DataFrame:
    """The k-truss of an undirected graph (Cohen 2008): the maximal
    subgraph where every edge closes >= k-2 triangles WITHIN the
    subgraph — the edge-level sibling of k-core and a stricter
    tightly-knit-community / link-farm detector (a k-core tolerates
    bipartite-ish cores; a truss demands actual triangles). Iterative
    peeling: count per-edge support with the degree-oriented triangle
    join (bounded wedges even under hub skew), drop edges under k-2,
    repeat to the fixpoint.

    Scale note: like kcore, an adversarial chain of marginal edges
    peels a handful per round; once the surviving canonical edge list
    fits ``driver_threshold`` rows the residual peels exactly on the
    driver in one queue pass, so the distributed rounds only run while
    the graph is genuinely large.

    Returns (u, v, support): canonical truss edges with their in-truss
    triangle support (>= k-2)."""
    c = (edges.select(
        F.least(F.col(edges.columns[0]), F.col(edges.columns[1]))
        .cast("long").alias("u"),
        F.greatest(F.col(edges.columns[0]), F.col(edges.columns[1]))
        .cast("long").alias("v"))
        .where(F.col("u") != F.col("v")).distinct().localCheckpoint())
    m = c.count()
    spark = c.sparkSession
    for _ in range(max_rounds):
        if m <= driver_threshold:
            core = _driver_ktruss_peel(
                [(r["u"], r["v"]) for r in c.collect()], k)
            if not core:
                return spark.createDataFrame(
                    [], "u long, v long, support long")
            return spark.createDataFrame(
                [(u, v, s) for (u, v), s in core.items()],
                "u long, v long, support long")
        s = _edge_support(c)
        nxt = (s.where(F.col("support") >= k - 2)
               .select("u", "v").localCheckpoint())
        m2 = nxt.count()
        if m2 == m:
            # fixpoint: the support computed this round IS the in-truss
            # support of the surviving edges
            return s.where(F.col("support") >= k - 2)
        c, m = nxt, m2
    raise RuntimeError(f"ktruss did not converge in {max_rounds} rounds")


def spam_mass(edges: DataFrame, seeds: DataFrame, n_iters: int = 4,
              damping_pct: int = 85, scale: int = 10**12) -> DataFrame:
    """Relative spam mass (Gyongyi, Garcia-Molina & Pedersen, "Link
    Spam Detection Based on Mass Estimation", VLDB 2006): the fraction
    of a page's PageRank that does NOT flow from the trusted seed set —
    near 1 for link-farm targets, near/below 0 for well-endorsed pages.

    mass_units = PR - TR in the shared int64 fixed-point units (both
    distributions total ~``scale``, so the difference is directly
    comparable and exact); rel_mass = mass / PR. Cost: the two rank
    fixed points (one keyed edge join per round each) plus one final
    n-row join on node — nothing beyond what pagerank already shuffles.
    """
    pr = pagerank(edges, n_iters, damping_pct, scale).select(
        "node", F.col("rank_units").alias("pr_units"))
    tr = personalized_pagerank(
        edges, seeds, n_iters, damping_pct, scale).select(
        "node", "is_seed", F.col("rank_units").alias("tr_units"))
    mass = F.col("pr_units") - F.col("tr_units")
    return pr.join(tr, "node").select(
        "node", "is_seed", "pr_units", "tr_units",
        mass.alias("mass_units"),
        F.round(F.when(F.col("pr_units") > 0,
                       mass / F.col("pr_units")), 9).alias("rel_mass"))


def harmonic_centrality(edges: DataFrame, seeds: list,
                        max_dist: int = 20,
                        scale: int = 10**6) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014, the in-variant used for
    web-graph ranking) estimated from a fixed SEED SAMPLE — the standard
    scale path (Eppstein-Wang style sampling): exact all-pairs BFS is
    quadratic, so production rankings BFS from k sampled roots and sum
    reciprocal distances. ``H(v) = sum over seeds s of 1/d(s, v)``
    (unreachable and self terms contribute 0), accumulated as EXACT
    integers ``scale div d`` so the sum is order-independent and
    oracle-able (a float 1/d sum is neither).

    Scale shape: one level-synchronous multi-source BFS keyed by
    (seed, node) — per round ONE equi-join of the frontier with the
    edge list and a min-combine groupBy; state is |seeds| x |reached|
    keys-only rows, frontier-only rows join each round. Rounds =
    max seed eccentricity, capped at ``max_dist`` (distances beyond the
    cap contribute < scale/max_dist and are dropped — the documented
    truncation every sampled-harmonic system applies). Lineage is
    truncated per round.
    """
    e = edges.select(F.col("u").cast("long").alias("u"),
                     F.col("v").cast("long").alias("v")).localCheckpoint()
    from lib_gdal_spark.session import local_df
    dist = local_df(
        e.sparkSession, [(int(s), int(s), 0) for s in seeds],
        "seed long, node long, d int",
    ).localCheckpoint()
    frontier = dist
    for r in range(1, max_dist + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("seed", F.col("v").alias("node"), F.lit(r).alias("d"))
            .distinct()
            .join(dist.select(F.col("seed").alias("s2"),
                              F.col("node").alias("n2")),
                  (F.col("seed") == F.col("s2"))
                  & (F.col("node") == F.col("n2")), "left_anti")
            .localCheckpoint()
        )
        if cand.isEmpty():
            break
        dist = dist.unionByName(cand).localCheckpoint()
        frontier = cand
    return (
        dist.where(F.col("d") > 0)
        .groupBy("node")
        .agg(F.sum(F.expr(f"{int(scale)} div d")).alias("harmonic_units"))
        .select("node", "harmonic_units",
                F.round(F.col("harmonic_units") / scale, 9).alias("harmonic"))
    )


def neighborhood_function(edges: DataFrame, seeds: list,
                          max_dist: int = 20,
                          eff_num: int = 9, eff_den: int = 10) -> DataFrame:
    """Neighborhood function N(d) and effective diameter from a seed
    sample (the HyperANF/HyperBall statistic of Boldi, Rosa & Vigna,
    WWW 2011, computed EXACTLY on sampled sources instead of
    approximately on all): N(d) = number of (seed, node) pairs with
    shortest-path distance <= d; the effective diameter is the smallest
    d with N(d) >= (eff_num/eff_den) * N(max) — the standard
    "90% of reachable pairs" summary of web-graph compactness. The
    integer-d form (no interpolation) is used so the threshold test is
    exact cross-multiplied arithmetic.

    Scale shape: ONE level-synchronous multi-source BFS keyed by
    (seed, node) — identical to :func:`harmonic_centrality` — then a
    bounded per-distance groupBy. All counts exact int64. Returns one
    row per distance: (d, n_at, n_cum, reached_frac, is_effective) —
    is_effective marks the effective-diameter row."""
    e = edges.select(F.col("u").cast("long").alias("u"),
                     F.col("v").cast("long").alias("v")).localCheckpoint()
    from lib_gdal_spark.session import local_df
    dist = local_df(
        e.sparkSession, [(int(s), int(s), 0) for s in seeds],
        "seed long, node long, d int",
    ).localCheckpoint()
    frontier = dist
    for r in range(1, max_dist + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("seed", F.col("v").alias("node"), F.lit(r).alias("d"))
            .distinct()
            .join(dist.select(F.col("seed").alias("s2"),
                              F.col("node").alias("n2")),
                  (F.col("seed") == F.col("s2"))
                  & (F.col("node") == F.col("n2")), "left_anti")
            .localCheckpoint()
        )
        if cand.isEmpty():
            break
        dist = dist.unionByName(cand).localCheckpoint()
        frontier = cand
    from pyspark.sql import Window
    per_d = dist.groupBy("d").agg(F.count(F.lit(1)).alias("n_at"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_d.withColumn("n_cum", F.sum("n_at").over(w)) \
        .crossJoin(F.broadcast(
            dist.agg(F.count(F.lit(1)).alias("n_tot"))))
    flagged = cum.withColumn(
        "__hit", (F.col("n_cum") * eff_den
                  >= eff_num * F.col("n_tot")).cast("int"))
    weff = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return flagged.select(
        "d", F.col("n_at").cast("long").alias("n_at"),
        F.col("n_cum").cast("long").alias("n_cum"),
        F.round(F.col("n_cum") / F.col("n_tot"), 9).alias("reached_frac"),
        ((F.col("__hit") == 1)
         & (F.coalesce(F.max("__hit").over(weff), F.lit(0)) == 0))
        .alias("is_effective"))


def betweenness(edges: DataFrame, seeds: list, max_dist: int = 20,
                scale: int = 10**6) -> DataFrame:
    """Seed-sampled betweenness centrality (Brandes, J. Math. Sociology
    2001, with the standard source-sampling estimator of Brandes &
    Pich 2007): BC(v) = sum over sampled sources s of the dependency
    delta_s(v), where delta_s(v) = sum over BFS-DAG successors w of
    sigma_s(v)/sigma_s(w) * (1 + delta_s(w)) and sigma is the count of
    shortest s-paths. Exact all-sources Brandes is O(nm); production
    web-graph rankings sample sources, exactly like
    :func:`harmonic_centrality`.

    Exactness contract: sigma values are exact int64 (level-synchronous
    sums of predecessor sigmas). Dependencies are accumulated in
    ``scale`` fixed-point units with per-DAG-edge floor division —
    D(v) = sum over successors w of (sigma_v * (scale + D(w))) div
    sigma_w — so every partial sum is an integer and the result is
    bit-identical at any parallelism and in any engine (the float
    formulation is order-dependent and cannot be oracled). Requires
    sigma_max * (scale + D_max) < 2^63 — comfortable for sampled seeds
    with bounded depth; lower ``scale`` for adversarially path-dense
    graphs.

    Scale shape: forward = one level-synchronous multi-source BFS keyed
    by (seed, node) carrying (d, sigma) — per round one frontier⋈edges
    equi-join + a combinable groupBy, exactly harmonic_centrality's
    state shape. The BFS DAG (d(w) = d(v)+1 edges) materializes once;
    backward = one keyed join + integer groupBy per level, deepest
    level first. Rounds <= ``max_dist`` each way (the documented
    truncation every sampled-BC system applies). Lineage truncated per
    round. Returns (node, bc_units, bc); sources are excluded from
    their own dependency sums per Brandes, and only nodes with at least
    one DAG successor appear (leaves have zero dependency)."""
    e = edges.select(F.col("u").cast("long").alias("u"),
                     F.col("v").cast("long").alias("v")) \
        .distinct().localCheckpoint()
    from lib_gdal_spark.session import local_df
    dist = local_df(
        e.sparkSession, [(int(s), int(s), 0, 1) for s in seeds],
        "seed long, node long, d int, sig long",
    ).localCheckpoint()
    frontier = dist
    for r in range(1, max_dist + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["u"])
            .groupBy("seed", F.col("v").alias("node"))
            .agg(F.sum("sig").alias("sig"))
            .join(dist.select(F.col("seed").alias("s2"),
                              F.col("node").alias("n2")),
                  (F.col("seed") == F.col("s2"))
                  & (F.col("node") == F.col("n2")), "left_anti")
            .select("seed", "node", F.lit(r).alias("d"), "sig")
            .localCheckpoint()
        )
        if cand.isEmpty():
            break
        dist = dist.unionByName(cand).localCheckpoint()
        frontier = cand
    # BFS-DAG edges: (v, w) with d(w) = d(v) + 1 under the same seed
    dv = dist.select("seed", F.col("node").alias("vn"),
                     F.col("d").alias("dv"), F.col("sig").alias("sig_v"))
    dw = dist.select(F.col("seed").alias("sw"), F.col("node").alias("wn"),
                     F.col("d").alias("dw"), F.col("sig").alias("sig_w"))
    dag = (
        dv.join(e, dv["vn"] == e["u"])
        .join(dw, (F.col("seed") == F.col("sw")) & (e["v"] == dw["wn"]))
        .where(F.col("dw") == F.col("dv") + 1)
        .select("seed", "vn", "wn", "dv", "sig_v", "sig_w")
        .localCheckpoint()
    )
    max_lev = dag.agg(F.coalesce(F.max("dv"), F.lit(-1))).first()[0]
    dep = None  # (seed, node, dep_units) accumulated deepest-first
    for lev in range(int(max_lev), -1, -1):
        lvl = dag.where(F.col("dv") == lev)
        if dep is not None:
            lvl = lvl.join(
                dep.select(F.col("seed").alias("s3"),
                           F.col("node").alias("n3"),
                           F.col("dep_units").alias("dw_units")),
                (F.col("seed") == F.col("s3"))
                & (F.col("wn") == F.col("n3")), "left")
        else:
            lvl = lvl.withColumn("dw_units", F.lit(None).cast("long"))
        new = (
            lvl.select(
                "seed", F.col("vn").alias("node"),
                F.expr(f"sig_v * ({int(scale)} + coalesce(dw_units, 0))"
                       " div sig_w").alias("c"))
            .groupBy("seed", "node")
            .agg(F.sum("c").alias("dep_units"))
            .localCheckpoint()
        )
        dep = new if dep is None else dep.unionByName(new).localCheckpoint()
    if dep is None:
        return e.sparkSession.createDataFrame(
            [], "node long, bc_units long, bc double")
    return (
        dep.where(F.col("node") != F.col("seed"))
        .groupBy("node")
        .agg(F.sum("dep_units").alias("bc_units"))
        .select("node", "bc_units",
                F.round(F.col("bc_units") / scale, 9).alias("bc"))
    )


def degree_mixing(edges: DataFrame) -> DataFrame:
    """Degree-mixing statistics of a directed link graph in one pass:

    - **reciprocity** (Garlaschelli & Loffredo, PRL 2004 definition r =
      L_bidir / L): the fraction of directed edges whose reverse edge
      also exists — crawl graphs sit far below social graphs here.
    - **degree assortativity** (Newman, PRL 2002): the Pearson
      correlation of (in-degree of u, in-degree of v) over directed
      edges (the in-in flavor; Foster et al., PNAS 2010 taxonomy) —
      typically negative on the web (hubs link to low-degree pages).
      Nodes with no in-edges count as degree 0 (left join + coalesce).
      Zero variance on either margin yields NULL (undefined), not an
      error.

    Exactness: every moment is an exact int64/int128 sum of integer
    degrees over edges (map-side combinable; DECIMAL(38) guards the
    squared sums), and the final r / assortativity are one float
    expression each — order-free, engine-exact. Self-loops count;
    duplicate edges are collapsed (documented contract).

    Returns one row (n_nodes, n_edges, n_reciprocal, reciprocity,
    assortativity)."""
    e = edges.select(F.col("u").cast("long").alias("u"),
                     F.col("v").cast("long").alias("v")).distinct() \
        .persist()
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node"))).distinct())
    ind = e.groupBy("v").agg(F.count(F.lit(1)).alias("idg"))
    rev = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    recip = e.join(rev, ["u", "v"]).count()
    ju = ind.select(F.col("v").alias("u"), F.col("idg").alias("du"))
    jv = ind.select("v", F.col("idg").alias("dv"))
    j = (e.join(ju, "u", "left").join(jv, "v", "left")
         .select(F.coalesce("du", F.lit(0)).cast("decimal(38,0)")
                 .alias("x"),
                 F.coalesce("dv", F.lit(0)).cast("decimal(38,0)")
                 .alias("y")))
    m = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    n_nodes = nodes.count()
    n_edges = e.count()
    e.unpersist()
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = F.sqrt((F.col("m") * F.col("sxx")
                  - F.col("sx") * F.col("sx")).cast("double")) \
        * F.sqrt((F.col("m") * F.col("syy")
                  - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(int(recip)).cast("long").alias("n_reciprocal"),
        F.round(F.lit(int(recip)) / F.lit(float(n_edges)), 9)
        .alias("reciprocity"),
        F.round(F.when(den != 0.0, num / den), 9).alias("assortativity"))


def rich_club(edges: DataFrame, ks: list) -> DataFrame:
    """Rich-club coefficient (Colizza, Flammini, Serrano & Vespignani,
    Nature Physics 2006): phi(k) = 2 * E_k / (N_k * (N_k - 1)), where
    N_k counts nodes of TOTAL degree > k (undirected view, duplicate and
    reverse edges collapsed) and E_k the undirected edges among them —
    do high-degree hubs preferentially interlink? All counts exact
    int64 (one degree groupBy + one broadcast-filtered edge count per
    k); returns (k, n_k, e_k, phi) for each requested k."""
    und = edges.select(
        F.least(F.col("u").cast("long"), F.col("v").cast("long")).alias("a"),
        F.greatest(F.col("u").cast("long"),
                   F.col("v").cast("long")).alias("b")) \
        .where(F.col("a") != F.col("b")).distinct().persist()
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")).persist())
    rows = []
    for k in ks:
        k = int(k)
        club = deg.where(F.col("d") > k).select("node")
        n_k = club.count()
        e_k = (und
               .join(club.select(F.col("node").alias("a")), "a")
               .join(club.select(F.col("node").alias("b")), "b")
               .count())
        rows.append((k, n_k, e_k))
    und.unpersist()
    deg.unpersist()
    out = edges.sparkSession.createDataFrame(
        rows, "k long, n_k long, e_k long")
    # phi as ONE engine-side float expression (round half-up, matching
    # the SQL oracle's round semantics — not Python's banker's round)
    return out.select(
        "k", "n_k", "e_k",
        F.round(F.when(F.col("n_k") > 1,
                       2.0 * F.col("e_k")
                       / (F.col("n_k") * (F.col("n_k") - 1)))
                .otherwise(F.lit(0.0)), 9).alias("phi"))


def salsa(edges: DataFrame, n_iters: int = 4,
          scale: int = 10**12) -> DataFrame:
    """SALSA hubs/authorities (Lempel & Moran 2001; TKDE) — the
    degree-normalized variant of HITS that resists tightly-knit-community
    inflation: the authority walk steps BACKWARD over a uniformly random
    in-edge then FORWARD over a random out-edge, so each edge carries
    ``1/deg`` of its endpoint's mass instead of the full score.

    EXACT integer arithmetic like :func:`pagerank` / :func:`hits`:
    scores live in ``scale`` fixed-point units; per half-step each node
    splits its mass by integer division over its degree
    (``h div outdeg`` forward, ``a div indeg`` backward), and sums are
    int64 — order-independent, bit-identical at any parallelism, and
    spellable as an unrolled CTE chain. Mass lost to floor division
    stays lost (deterministic), so scores drift below ``scale`` total
    by < n_edges per round — irrelevant to ranking and exactly mirrored
    by the oracle.

    Per iteration: ``a'(v) = sum over in-edges (u,v) of h(u) div od(u)``
    then ``h'(u) = sum over out-edges (u,v) of a'(v) div id(v)`` — two
    keyed shuffles per round, map-side combinable, lineage truncated
    per round; degree tables are computed once.
    """
    e = edges.select(F.col("u").cast("long").alias("u"),
                     F.col("v").cast("long").alias("v")).localCheckpoint()
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node"))).distinct())
    od = e.groupBy("u").agg(F.count(F.lit(1)).alias("od"))
    idg = e.groupBy("v").agg(F.count(F.lit(1)).alias("id"))
    h = nodes.withColumn("h", F.lit(int(scale)).cast("long")) \
        .localCheckpoint()
    a = None
    for _ in range(n_iters):
        contrib = (
            h.join(od, h["node"] == od["u"])
            .select(F.col("node").alias("cu"), F.expr("h div od").alias("c"))
        )
        a = (
            nodes.join(
                e.join(contrib, e["u"] == F.col("cu"))
                .groupBy("v").agg(F.sum("c").alias("ar")),
                nodes["node"] == F.col("v"), "left")
            .select("node", F.coalesce("ar", F.lit(0)).alias("a"))
            .localCheckpoint()
        )
        back = (
            a.join(idg, a["node"] == idg["v"])
            .select(F.col("node").alias("cv"), F.expr("a div id").alias("c"))
        )
        h = (
            nodes.join(
                e.join(back, e["v"] == F.col("cv"))
                .groupBy("u").agg(F.sum("c").alias("hr")),
                nodes["node"] == F.col("u"), "left")
            .select("node", F.coalesce("hr", F.lit(0)).alias("h"))
            .localCheckpoint()
        )
    return h.join(a, "node").select(
        "node", F.col("h").alias("hub_units"), F.col("a").alias("auth_units"),
        F.round(F.col("h") / scale, 9).alias("hub"),
        F.round(F.col("a") / scale, 9).alias("auth"))


def link_prediction(edges: DataFrame, min_common: int = 2,
                    hub_cap: int | None = None) -> DataFrame:
    """Neighborhood-based link prediction (Liben-Nowell & Kleinberg,
    CIKM 2003): score candidate NON-edges (a, b) of an undirected graph
    by the three classic count-exact indices —

      * ``cn``          common-neighbor count |N(a) ∩ N(b)|
      * ``jaccard``     |N(a) ∩ N(b)| / |N(a) ∪ N(b)| (one per-row
                        double division over int64s, bit-stable)
      * ``pref_attach`` |N(a)| * |N(b)| (Barabási preferential
                        attachment)

    Adamic-Adar is deliberately absent: its Σ 1/log deg(w) is an
    order-dependent float accumulation that cannot be made value-exact
    across engines; cn/jaccard/PA carry the same ranking signal with
    integer arithmetic.

    Plan shape: symmetrize once, then one wedge self-join on the shared
    neighbor key + a combinable (a, b) count, a left-anti join against
    existing edges, and two broadcast-friendly degree joins. Every
    shuffle carries only (long, long) keys.

    Scale: a wedge through node w emits deg(w)^2 candidate pairs — web
    hubs make that quadratic. ``hub_cap`` drops wedges through nodes
    with degree > hub_cap (the same frequency-cap pattern as
    ``knn.s2_ring_pairs``); scores then become
    "common non-hub neighbors", a documented contraction of the exact
    semantics. Leave None for exact results on bounded-degree graphs.

    Returns (a, b, cn, deg_a, deg_b, jaccard, pref_attach), a < b,
    cn >= min_common, (a, b) not an edge.

    Reference analog: GNM connectivity analysis (core/gnm/gnmgraph.cpp)
    stops at components/shortest paths; link scoring is the web-graph
    extension of the same adjacency model.
    """
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("u"),
        F.col(edges.columns[1]).cast("long").alias("v"),
    ).where(F.col("u") != F.col("v"))
    sym = (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
           .distinct().localCheckpoint())
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d")) \
        .withColumnRenamed("u", "node")
    adj = sym
    if hub_cap is not None:
        ok = deg.where(F.col("d") <= int(hub_cap)) \
            .select(F.col("node").alias("u"))
        adj = adj.join(ok, "u")
    pairs = (
        adj.alias("x").join(adj.alias("y"),
                            (F.col("x.u") == F.col("y.u"))
                            & (F.col("x.v") < F.col("y.v")))
        .select(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn"))
        .where(F.col("cn") >= int(min_common))
    )
    non_edges = pairs.join(
        sym, (pairs["a"] == sym["u"]) & (pairs["b"] == sym["v"]),
        "left_anti")
    out = (
        non_edges
        .join(deg.select(F.col("node").alias("a"),
                         F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("d").alias("deg_b")), "b")
    )
    return out.select(
        "a", "b", "cn", "deg_a", "deg_b",
        F.round(F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")), 6)
         .alias("jaccard"),
        (F.col("deg_a") * F.col("deg_b")).alias("pref_attach"),
    )
