from __future__ import annotations

import pytest

from insights_spark.text.links import bfs_hop_distance


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _src(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _dists(df):
    return {r["id"]: r["dist"] for r in df.collect()}


def test_bfs_chain_and_hop_cap(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    got = bfs_hop_distance(e, _src(spark, [0]), max_hops=2)
    assert dict(got.dtypes)["dist"] == "int"
    assert _dists(got) == {0: 0, 1: 1, 2: 2}  # 3 is beyond the cap → absent
    # multi-edges count once: same levels, one row per node
    multi = _edges(spark, [(0, 1), (0, 1), (1, 2), (1, 2), (1, 2), (2, 3)])
    got = bfs_hop_distance(multi, _src(spark, [0]), max_hops=2)
    assert got.count() == 3 and _dists(got) == {0: 0, 1: 1, 2: 2}


def test_bfs_cycle_terminates(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    out = _dists(bfs_hop_distance(e, _src(spark, [0]), max_hops=10))
    assert out == {0: 0, 1: 1, 2: 2}
    # source 1 is one hop from source 0 (and 0 from 2): both stay at 0
    out = _dists(bfs_hop_distance(e, _src(spark, [0, 1]), max_hops=10))
    assert out == {0: 0, 1: 0, 2: 1}


def test_bfs_multi_source_takes_min(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    got = bfs_hop_distance(e, _src(spark, [0, 3, 3]), max_hops=4)
    # 4 is 1 hop from source 3, not 4 hops from source 0; the duplicate
    # seed 3 yields one row
    assert got.count() == 5
    assert _dists(got) == {0: 0, 3: 0, 1: 1, 4: 1, 2: 2}


def test_bfs_diamond_shortest_path_wins(spark):
    # 0→9 directly and 0→1→2→9: 9 must get dist 1
    e = _edges(spark, [(0, 9), (0, 1), (1, 2), (2, 9)])
    out = _dists(bfs_hop_distance(e, _src(spark, [0]), max_hops=5))
    assert out[9] == 1 and out[2] == 2


def test_bfs_unreachable_absent_and_partitioning_invariant(spark):
    e = _edges(spark, [(0, 1), (5, 6)])  # 5,6 disconnected from 0
    out = _dists(bfs_hop_distance(e, _src(spark, [0]), max_hops=6))
    assert out == {0: 0, 1: 1}
    out2 = _dists(
        bfs_hop_distance(e.repartition(7), _src(spark, [0]), max_hops=6))
    assert out2 == out


def test_triangle_counts(spark):
    """Degree-ordered triangle counting vs known graphs: K4 (every node
    in 3 triangles), a disjoint 3-cycle, a pendant node (absent), a
    star (no triangles at all), and invariance to edge direction /
    duplication in the input."""
    from insights_spark.text.links import triangle_counts

    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b] + \
            [(4, 5), (6, 7), (7, 8), (8, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}
    # one-directional + duplicated edges give the same answer
    half = [(6, 7), (7, 8), (6, 8), (6, 7), (8, 7)]
    got2 = {r["id"]: r["n_triangles"]
            for r in triangle_counts(
                spark.createDataFrame(half, "src long, dst long")).collect()}
    assert got2 == {6: 1, 7: 1, 8: 1}
    star = [(0, i) for i in range(1, 9)]
    assert triangle_counts(
        spark.createDataFrame(star, "src long, dst long")).count() == 0


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w long")


def test_sssp_weighted_detour_beats_direct(spark):
    """A heavy direct edge must lose to a light 2-hop detour — the case
    hop-BFS gets wrong by construction."""
    from insights_spark.text.links import sssp_weighted

    e = _wedges(spark, [(0, 2, 10), (0, 1, 1), (1, 2, 1)])
    out = _dists(sssp_weighted(e, _src(spark, [0]), rounds=4))
    assert out == {0: 0, 1: 1, 2: 2}


def test_sssp_bounded_horizon_and_improvement(spark):
    """After k rounds dist = min over paths of <= k edges (Bellman-Ford
    invariant): the cheap long path only wins once rounds allow it."""
    from insights_spark.text.links import sssp_weighted

    # direct cost 9; 3-edge path costs 3
    e = _wedges(spark, [(0, 3, 9), (0, 1, 1), (1, 2, 1), (2, 3, 1)])
    s = _src(spark, [0])
    assert _dists(sssp_weighted(e, s, rounds=1))[3] == 9
    assert _dists(sssp_weighted(e, s, rounds=3))[3] == 3


def test_sssp_multi_source_cycle_unreachable(spark):
    """Min over seeds; cycles terminate via vote-to-halt; unreachable
    nodes absent; zero-weight edges fine."""
    from insights_spark.text.links import sssp_weighted

    e = _wedges(spark, [
        (0, 1, 5), (10, 1, 2),          # two seeds race to node 1
        (1, 2, 0),                      # zero-weight edge
        (2, 1, 1),                      # cycle
        (7, 8, 1),                      # island (unreachable)
    ])
    out = _dists(sssp_weighted(e, _src(spark, [0, 10]), rounds=8))
    assert out == {0: 0, 10: 0, 1: 2, 2: 2}
    # brute-force parity on a random graph
    import itertools
    import random

    rng = random.Random(71)
    nodes = list(range(12))
    trip = [(a, b, rng.randint(1, 9))
            for a, b in itertools.permutations(nodes, 2)
            if rng.random() < 0.15]
    seeds = [0, 5]
    best = {s: 0 for s in seeds}
    for _ in range(6):
        for a, b, w in trip:
            if a in best and best[a] + w < best.get(b, 1 << 60):
                best[b] = best[a] + w
    # iterate to fixed point within 6 rounds semantics: recompute the
    # bounded-horizon truth exactly (min over paths of <= 6 edges)
    horizon = {s: 0 for s in seeds}
    cur = dict(horizon)
    for _ in range(6):
        nxt = dict(cur)
        for a, b, w in trip:
            if a in cur and cur[a] + w < nxt.get(b, 1 << 60):
                nxt[b] = cur[a] + w
        cur = nxt
    got = _dists(sssp_weighted(
        _wedges(spark, trip), _src(spark, seeds), rounds=6))
    assert got == cur


def test_label_propagation_brute_force(spark):
    """Sync LPA with (count DESC, label ASC) ties vs a pure-Python
    replica: two cliques joined by one bridge edge resolve to two
    communities; replica matches exactly at every fixed iteration
    count."""
    from insights_spark.text.links import label_propagation

    # clique A = {0..4}, clique B = {10..14}, bridge 4-10
    cl = lambda ns: [(a, b) for a in ns for b in ns if a < b]
    e = cl(range(5)) + cl(range(10, 15)) + [(4, 10), (7, 7)]  # self-loop dropped

    def brute(iters):
        adj = {}
        for a, b in e:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        lab = {n: n for n in adj}
        for _ in range(iters):
            new = {}
            for node, nbrs in adj.items():
                cnts = {}
                for nb in nbrs:
                    cnts[lab[nb]] = cnts.get(lab[nb], 0) + 1
                new[node] = min(cnts, key=lambda L: (-cnts[L], L))
            lab = new
        return lab

    df = spark.createDataFrame(e, "src long, dst long")
    final = {r["id"]: r["label"]
             for r in label_propagation(df).collect()}
    assert final == brute(4)
    assert 7 not in final                      # self-loop-only node absent
    a_labels = {final[n] for n in range(5)}
    b_labels = {final[n] for n in range(10, 15)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels                # two communities survive


def test_hits_fixed_point_brute_force(spark):
    """Integer HITS vs a pure-Python replica: hub/authority separation
    on a directory-vs-content graph, L-inf div-normalization, dangling
    and source-only nodes, multi-edge weighting."""
    from insights_spark.text.links import hits_fixed_point

    # hubs 0,1 point at authorities 10,11,12; 20 is isolated-ish
    e = [(0, 10), (0, 11), (0, 12), (1, 10), (1, 11),
         (2, 10), (10, 20), (0, 10)]          # (0,10) doubled: multi-edge
    scale, iters = 10**6, 4  # hits_fixed_point's fixed recurrence

    def brute():
        nodes = sorted({n for p in e for n in p})
        h = {n: 1 for n in nodes}
        a = {}
        for _ in range(iters):
            a = {n: 0 for n in nodes}
            for s, d in e:
                a[d] += h[s]
            m = max(max(a.values()), 1)
            a = {n: (v * scale) // m for n, v in a.items()}
            h = {n: 0 for n in nodes}
            for s, d in e:
                h[s] += a[d]
            m = max(max(h.values()), 1)
            h = {n: (v * scale) // m for n, v in h.items()}
        return {n: (h[n], a[n]) for n in nodes}

    df = spark.createDataFrame(e, "src long, dst long")
    got = {r["id"]: (r["hub"], r["auth"])
           for r in hits_fixed_point(df).collect()}
    want = brute()
    assert got == want
    assert got[0][0] == scale                  # 0 is the top hub
    assert got[10][1] == scale                 # 10 is the top authority
    assert got[20] == (0, got[20][1])          # sink: zero hub
    assert got[2][1] == 0                      # source-only: zero auth


def test_kcore_peel_brute_force(spark):
    """R-round k-core peel vs a pure-Python replica: K5 clique survives
    as its own 3-core, chain+star peel away entirely, cascade removal
    (corona) peels over multiple rounds, fixture converges."""
    from insights_spark.text.links import kcore_peel

    cl = lambda ns: [(a, b) for a in ns for b in ns if a < b]
    # K5 clique; a chain hanging off it; a star; a triangle with a tail
    e = (cl(range(5))
         + [(4, 20), (20, 21), (21, 22)]            # chain: cascades off
         + [(30, i) for i in range(31, 37)]         # star: center deg 6
         + [(40, 41), (41, 42), (40, 42), (42, 43)])  # triangle + tail

    def brute(k, rounds):
        adj = {}
        for a, b in e:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        deg = {}
        for _ in range(rounds):
            deg = {n: sum(1 for m in adj[n] if m in alive)
                   for n in alive}
            alive = {n for n, d in deg.items() if d >= k}
        return {n: d for n, d in deg.items() if d >= k}

    df = spark.createDataFrame(e, "src long, dst long")
    for k in (3, 2):
        got = {r["id"]: r["core_deg"]
               for r in kcore_peel(df, k=k).collect()}
        assert got == brute(k, 6), k
    final = {r["id"]: r["core_deg"]
             for r in kcore_peel(df, k=3).collect()}
    assert set(final) == set(range(5))         # only the K5 clique
    assert all(d == 4 for d in final.values())
    assert brute(3, 6) == brute(3, 7)          # converged within 6 rounds
