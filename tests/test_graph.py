"""PageRank / degree features vs a brute-force numpy power iteration."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.graph import (
    degree_join,
    graph_nodes,
    pagerank,
)


def numpy_pagerank(edges, n_iter, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in edges:
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out[idx[u]]
        dangling = r[out == 0].sum()
        r = (1 - d) / n + d * (contrib + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3),  # 5 is dangling via 3->... none
    (1, 2),  # parallel edge: weights the contribution
    (5, 5),  # self loop
    (6, 1),  # 6 has out, no in
]
# node 7 unreachable/absent on purpose: only nodes present in edges exist


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


@pytest.mark.parametrize("n_iter", [1, 3, 10])
def test_pagerank_matches_numpy(spark, edges_df, n_iter):
    got = {r["node"]: r["rank"] for r in pagerank(edges_df, n_iter=n_iter).collect()}
    want = numpy_pagerank(EDGES, n_iter)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_pagerank_sums_to_one(spark, edges_df):
    ranks = pagerank(edges_df, n_iter=10)
    total = ranks.groupBy().sum("rank").collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_only_graph(spark):
    # every node dangles after one hop: 1->2, 3->2; 2 has no out-edges
    e = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=5).collect()}
    want = numpy_pagerank([(1, 2), (3, 2)], 5)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_graph_nodes_and_degree_join(spark, edges_df):
    nodes = graph_nodes(edges_df)
    assert {r["node"] for r in nodes.collect()} == {1, 2, 3, 4, 5, 6}
    ent = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    feat = {r["node"]: (r["out_deg"], r["in_deg"])
            for r in degree_join(ent, edges_df, "node").collect()}
    assert feat[1] == (3, 2)   # 1->2 twice + 1->3; in from 3 and 6
    assert feat[5] == (1, 1)   # self loop counts both ways
    assert feat[7] == (0, 0)   # isolated entity row survives with zeros


def test_pagerank_rejects_zero_iterations(spark, edges_df):
    with pytest.raises(ValueError):
        pagerank(edges_df, n_iter=0)


def test_rank_family_drops_null_endpoints(spark, edges_df):
    from med_doi_feature_extraction_spark.operators.graph import trustrank

    nulls = spark.createDataFrame(
        EDGES + [(1, None), (None, 2)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(nulls, n_iter=3).collect()}
    want = {
        r["node"]: r["rank"] for r in pagerank(edges_df, n_iter=3).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    seeds = spark.createDataFrame([(1,)], "node long")
    trust = trustrank(nulls, seeds, n_iter=3).collect()
    assert None not in {r["node"] for r in trust}
    assert sum(r["rank"] for r in trust) == pytest.approx(1.0, abs=1e-9)


class TestScorePropagation:
    def test_hand_computed_two_rounds(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import (
            score_propagation,
        )

        scores = spark.createDataFrame(
            [(1, 0.0), (2, 1.0), (3, 0.4)], "node: long, score: double"
        )
        edges = spark.createDataFrame(
            [(2, 1), (3, 1)], "src: long, dst: long"
        )  # node 1 hears from 2 and 3; 2 and 3 are isolated anchors
        out = {
            r["node"]: r["score"]
            for r in score_propagation(
                scores, edges, n_iter=2, alpha=0.5
            ).collect()
        }
        # round 1: s(1) = 0.5*0 + 0.5*avg(1.0, 0.4) = 0.35
        #          s(2) = 0.5*1 + 0.5*1 = 1.0 (no in-edges: keeps own)
        # round 2: s(1) = 0.5*0 + 0.5*avg(1.0, 0.4) = 0.35 (anchors fixed)
        assert out[1] == 0.35
        assert out[2] == 1.0 and out[3] == 0.4

    def test_isolated_node_never_decays(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import (
            score_propagation,
        )

        scores = spark.createDataFrame(
            [(7, 0.9)], "node: long, score: double"
        )
        edges = spark.createDataFrame([], "src: long, dst: long")
        out = score_propagation(scores, edges, n_iter=3).collect()
        assert out[0]["score"] == 0.9


class TestHits:
    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np

        from med_doi_feature_extraction_spark.operators.graph import hits

        edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 1), (0, 2)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {
            r["node"]: (r["authority"], r["hub"])
            for r in hits(df, n_iter=4).collect()
        }
        nodes = sorted({n for e in edges for n in e})
        idx = {n: i for i, n in enumerate(nodes)}
        A = np.zeros((len(nodes), len(nodes)))
        for s, d in edges:
            A[idx[s], idx[d]] += 1.0  # parallel edges weight
        h = np.ones(len(nodes))
        for _ in range(4):
            a = A.T @ h
            a /= max(np.linalg.norm(a), 1e-12)
            h = A @ a
            h /= max(np.linalg.norm(h), 1e-12)
        for n in nodes:
            assert abs(got[n][0] - a[idx[n]]) < 1e-6, n
            assert abs(got[n][1] - h[idx[n]]) < 1e-6, n

    def test_roles_separate(self, spark):
        """A pure hub (only outlinks) has hub>0, authority 0; a pure
        authority (only inlinks) the reverse."""
        from med_doi_feature_extraction_spark.operators.graph import hits

        df = spark.createDataFrame(
            [(10, 20), (10, 21), (11, 20)], "src: long, dst: long"
        )
        got = {
            r["node"]: (r["authority"], r["hub"])
            for r in hits(df, n_iter=3).collect()
        }
        assert got[10][0] == 0.0 and got[10][1] > 0
        assert got[20][0] > 0 and got[20][1] == 0.0


# -------------------------------------------------------------- triangle_count


class TestTriangleCount:
    def _count(self, spark, edges):
        from med_doi_feature_extraction_spark.operators.graph import (
            triangle_count,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        return triangle_count(df).collect()[0]

    def test_single_triangle(self, spark):
        r = self._count(spark, [(1, 2), (2, 3), (3, 1)])
        assert r["n_triangles"] == 1 and r["n_edges"] == 3
        assert r["n_wedges"] == 3
        assert r["global_clustering"] == 1.0

    def test_k4_has_four_triangles(self, spark):
        import itertools

        edges = list(itertools.combinations(range(4), 2))
        r = self._count(spark, edges)
        assert r["n_triangles"] == 4
        assert r["global_clustering"] == 1.0

    def test_star_has_none(self, spark):
        r = self._count(spark, [(0, i) for i in range(1, 6)])
        assert r["n_triangles"] == 0
        assert r["n_wedges"] == 10
        assert r["global_clustering"] == 0.0

    def test_matches_brute_force_random(self, spark):
        import itertools
        import random

        rng = random.Random(41)
        nodes = list(range(12))
        edges = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.4
        ]
        eset = {frozenset(e) for e in edges}
        brute = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if {frozenset((a, b)), frozenset((b, c)),
                frozenset((a, c))} <= eset
        )
        r = self._count(spark, edges)
        assert r["n_triangles"] == brute


class TestAssortativity:
    def _r(self, spark, edges):
        from med_doi_feature_extraction_spark.operators.graph import (
            degree_assortativity,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        return degree_assortativity(df).collect()[0]

    def test_star_is_disassortative(self, spark):
        r = self._r(spark, [(0, i) for i in range(1, 8)])
        assert r["r"] == -1.0 and r["n_edges"] == 7

    def test_regular_graph_null(self, spark):
        # 6-cycle: every degree 2 -> zero variance
        r = self._r(spark, [(i, (i + 1) % 6) for i in range(6)])
        assert r["r"] is None

    def test_matches_networkx_free_reference(self, spark):
        """Hand implementation of Newman r over the double cover."""
        import itertools
        import math
        import random

        rng = random.Random(5)
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(10), 2)
            if rng.random() < 0.35
        ]
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        pairs = [(deg[a], deg[b]) for a, b in edges] + [
            (deg[b], deg[a]) for a, b in edges
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        ref = (n * sxy - sx * sy) / math.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        r = self._r(spark, edges)
        assert r["r"] == pytest.approx(ref, abs=1e-6)


class TestLocalClustering:
    def _run(self, spark, edges):
        from med_doi_feature_extraction_spark.operators.graph import (
            local_clustering,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: r for r in local_clustering(df).collect()
        }

    def test_triangle_plus_pendant(self, spark):
        # triangle 1-2-3 with pendant 4 hanging off node 1
        by = self._run(spark, [(1, 2), (2, 3), (3, 1), (1, 4)])
        assert by[2]["local_cc"] == 1.0 and by[2]["n_triangles"] == 1
        assert by[1]["degree"] == 3
        assert by[1]["local_cc"] == pytest.approx(1 / 3, abs=1e-6)
        assert by[4]["local_cc"] is None  # degree 1
        assert by[4]["n_triangles"] == 0

    def test_every_corner_credited(self, spark):
        import itertools

        edges = list(itertools.combinations(range(5), 2))  # K5
        by = self._run(spark, edges)
        # each node of K5 is in C(4,2)=6 triangles, cc = 1
        for n in range(5):
            assert by[n]["n_triangles"] == 6
            assert by[n]["local_cc"] == 1.0

    def test_consistent_with_global_count(self, spark):
        import itertools
        import random

        from med_doi_feature_extraction_spark.operators.graph import (
            triangle_count,
        )
        from pyspark.sql import SparkSession

        rng = random.Random(9)
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(14), 2)
            if rng.random() < 0.3
        ]
        by = self._run(spark, edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        g = triangle_count(df).collect()[0]
        assert sum(r["n_triangles"] for r in by.values()) == 3 * g[
            "n_triangles"
        ]


class TestKHopReach:
    def _run(self, spark, edges, seeds, k):
        from med_doi_feature_extraction_spark.operators.graph import (
            k_hop_reach,
        )

        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {
            r["node"]: r["min_hops"]
            for r in k_hop_reach(e, s, k).collect()
        }

    def test_path_graph_hop_counts(self, spark):
        edges = [(i, i + 1) for i in range(6)]  # 0-1-2-...-6
        by = self._run(spark, edges, [0], k=3)
        assert by == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_undirected_and_min_hops(self, spark):
        # 0-1, 1-2, 0-2: node 2 reachable in 1 hop (direct), not 2
        by = self._run(spark, [(1, 0), (2, 1), (0, 2)], [0], k=2)
        assert by[2] == 1 and by[1] == 1

    def test_multiple_seeds_take_min(self, spark):
        edges = [(i, i + 1) for i in range(10)]
        by = self._run(spark, edges, [0, 10], k=2)
        assert by[8] == 2 and by[2] == 2 and 5 not in by

    def test_k_zero_is_seeds_only(self, spark):
        by = self._run(spark, [(0, 1)], [0], k=0)
        assert by == {0: 0}

    def test_disconnected_component_unreached(self, spark):
        by = self._run(spark, [(0, 1), (5, 6)], [0], k=3)
        assert 5 not in by and 6 not in by


class TestKCore:
    def _run(self, spark, edges, k, rounds=8):
        from med_doi_feature_extraction_spark.operators.graph import (
            k_core,
        )

        e = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: r["core_deg"]
            for r in k_core(e, k=k, rounds=rounds).collect()
        }

    @staticmethod
    def _reference_peel(edges, k):
        """Plain-Python fixpoint peel (the unbounded true k-core)."""
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, nb in adj.items() if len(nb) < k]:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
        return {n: len(nb) for n, nb in adj.items()}

    def test_triangle_with_pendant(self, spark):
        # triangle 0-1-2 plus pendant 3: 2-core drops the pendant
        edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
        assert self._run(spark, edges, k=2) == {0: 2, 1: 2, 2: 2}

    def test_path_graph_has_empty_2core(self, spark):
        edges = [(i, i + 1) for i in range(8)]
        assert self._run(spark, edges, k=2) == {}

    def test_k5_survives_4core(self, spark):
        import itertools

        edges = list(itertools.combinations(range(5), 2))
        assert self._run(spark, edges, k=4) == {n: 4 for n in range(5)}

    def test_cascading_peel_needs_multiple_rounds(self, spark):
        # long tail into a triangle: each round peels one tail node
        edges = [(0, 1), (1, 2), (0, 2)] + [
            (2 + i, 3 + i) for i in range(5)
        ]
        assert self._run(spark, edges, k=2, rounds=6) == {
            0: 2,
            1: 2,
            2: 2,
        }

    def test_matches_reference_fixpoint_on_random_graph(self, spark):
        import itertools
        import random

        rng = random.Random(17)
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(30), 2)
            if rng.random() < 0.12
        ]
        want = self._reference_peel(edges, k=3)
        assert self._run(spark, edges, k=3, rounds=30) == want

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        edges = [(0, 1), (1, 0), (0, 1), (1, 2), (0, 2)]
        assert self._run(spark, edges, k=2) == {0: 2, 1: 2, 2: 2}

    def test_rejects_bad_args(self, spark):
        import pytest as _pt

        from med_doi_feature_extraction_spark.operators.graph import (
            k_core,
        )

        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        with _pt.raises(ValueError):
            k_core(e, k=0)
        with _pt.raises(ValueError):
            k_core(e, k=2, rounds=0)


class TestLinkPrediction:
    EDGES = [(1, 4), (1, 5), (2, 4), (2, 5), (4, 6), (3, 1)]
    # degrees: 1->3, 2->2, 3->1, 4->3, 5->2, 6->1

    def _run(self, spark, edges, **kw):
        from med_doi_feature_extraction_spark.operators.graph import (
            link_prediction,
        )

        e = spark.createDataFrame(edges, "src long, dst long")
        return {
            (r["node_a"], r["node_b"]): r
            for r in link_prediction(e, **kw).collect()
        }

    def test_hand_graph_scores(self, spark):
        got = self._run(spark, self.EDGES, hub_cap=40, min_common=2)
        # (1,2) share {4,5}; (4,5) share {1,2}; everything else has
        # exactly one common neighbor and is filtered.
        assert set(got) == {(1, 2), (4, 5)}
        import math

        w2 = int(math.floor(1e9 / math.log(2) + 0.5))
        w3 = int(math.floor(1e9 / math.log(3) + 0.5))
        aa = (w2 + w3) / 1e9
        for key in [(1, 2), (4, 5)]:
            r = got[key]
            assert r["common"] == 2
            assert r["adamic_adar"] == aa
            assert r["jaccard"] == 2.0 / 3.0
            assert r["pref_attach"] == 6

    def test_min_common_one_keeps_single_wedges(self, spark):
        got = self._run(spark, self.EDGES, hub_cap=40, min_common=1)
        assert (3, 4) in got and got[(3, 4)]["common"] == 1
        assert (2, 6) in got and got[(2, 6)]["common"] == 1

    def test_existing_edges_are_excluded(self, spark):
        got = self._run(
            spark, self.EDGES + [(4, 5)], hub_cap=40, min_common=2
        )
        assert (4, 5) not in got  # adjacent now
        assert (1, 2) in got

    def test_hub_cap_drops_big_centers(self, spark):
        # cap 2 keeps only deg-2 centers (nodes 2 and 5)
        got = self._run(spark, self.EDGES, hub_cap=2, min_common=1)
        assert set(got) == {(4, 5), (1, 2)}
        for r in got.values():
            assert r["common"] == 1

    def test_rejects_bad_args(self, spark):
        import pytest as _pt

        from med_doi_feature_extraction_spark.operators.graph import (
            link_prediction,
        )

        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        with _pt.raises(ValueError):
            link_prediction(e, hub_cap=1)
        with _pt.raises(ValueError):
            link_prediction(e, min_common=0)


def numpy_trustrank(edges, seeds, n_iter, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in edges:
        out[idx[u]] += 1
    tv = np.zeros(n)
    present = [s for s in seeds if s in idx]
    for s in present:
        tv[idx[s]] = 1.0 / len(seeds)
    r = tv.copy()
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out[idx[u]]
        dangling = r[out == 0].sum()
        r = (1 - d) * tv + d * (contrib + dangling * tv)
    return {nodes[i]: r[i] for i in range(n)}


class TestTrustRank:
    def _run(self, spark, edges, seeds, n_iter):
        from med_doi_feature_extraction_spark.operators.graph import trustrank

        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {
            r["node"]: r["rank"]
            for r in trustrank(e, s, n_iter=n_iter).collect()
        }

    @pytest.mark.parametrize("n_iter", [1, 3, 8])
    def test_matches_numpy(self, spark, n_iter):
        got = self._run(spark, EDGES, [1, 5], n_iter)
        want = numpy_trustrank(EDGES, [1, 5], n_iter)
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-12)

    def test_trust_stays_in_reachable_set(self, spark):
        # 0->1->2 chain, 3<->4 isolated spam pair: seeds {0} never
        # reach 3/4, so their trustrank is exactly 0 — the demotion
        # signal pagerank (uniform teleport) cannot give.
        edges = [(0, 1), (1, 2), (3, 4), (4, 3)]
        got = self._run(spark, edges, [0], n_iter=6)
        assert got[3] == 0.0 and got[4] == 0.0
        assert got[0] > 0 and got[1] > 0 and got[2] > 0

    def test_mass_conserved_when_dangling_reabsorbed(self, spark):
        # dangling node 2's mass re-teleports to seeds: total == 1
        got = self._run(spark, [(0, 1), (1, 2)], [0], n_iter=12)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_rejects_zero_iterations(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import trustrank

        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        s = spark.createDataFrame([(0,)], "node long")
        with pytest.raises(ValueError):
            trustrank(e, s, n_iter=0)


def numpy_lpa(edges, n_iter):
    """Reference synchronous LPA with self-vote, min-label ties."""
    sym = set()
    for u, v in edges:
        if u != v:
            sym.add((u, v))
            sym.add((v, u))
    nodes = sorted({u for u, _ in sym})
    lab = {n: n for n in nodes}
    for _ in range(n_iter):
        new = {}
        for n in nodes:
            votes = {}
            for u, v in sym:
                if v == n:
                    votes[lab[u]] = votes.get(lab[u], 0) + 1
            votes[lab[n]] = votes.get(lab[n], 0) + 1  # self-vote
            mx = max(votes.values())
            new[n] = min(l for l, c in votes.items() if c == mx)
        lab = new
    return lab


class TestLabelCommunities:
    def _run(self, spark, edges, n_iter):
        from med_doi_feature_extraction_spark.operators.graph import (
            label_communities,
        )

        e = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: r["label"]
            for r in label_communities(e, n_iter=n_iter).collect()
        }

    @pytest.mark.parametrize("n_iter", [1, 3, 6])
    def test_matches_reference(self, spark, n_iter):
        edges = [
            (0, 1), (1, 2), (2, 0), (0, 3),
            (3, 4), (4, 5), (5, 3), (4, 5),  # parallel edge deduped
            (8, 9), (10, 10),  # self loop dropped
        ]
        got = self._run(spark, edges, n_iter)
        want = numpy_lpa(edges, n_iter)
        assert got == want

    def test_isolated_pair_converges(self, spark):
        got = self._run(spark, [(8, 9)], 5)
        assert got == {8: 8, 9: 8}  # self-vote kills the 2-cycle

    def test_two_cliques_get_two_labels(self, spark):
        k3a = [(0, 1), (1, 2), (2, 0)]
        k3b = [(7, 8), (8, 9), (9, 7)]
        got = self._run(spark, k3a + k3b, 4)
        assert got[0] == got[1] == got[2] == 0
        assert got[7] == got[8] == got[9] == 7

    def test_rejects_zero_iterations(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import (
            label_communities,
        )

        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        with pytest.raises(ValueError):
            label_communities(e, n_iter=0)


class TestBowtie:
    # seeds {10}; 1->10 (in), 10->20 (out), 10<->11 (core),
    # 30->31 isolated pair (other), 20->10? no — keep 20 a pure sink
    EDGES = [
        (1, 10), (2, 1),          # chain into the core: both 'in'
        (10, 20), (20, 21),       # chain out of the core: both 'out'
        (10, 11), (11, 10),       # 2-cycle with the seed: core
        (30, 31),                 # disconnected: other
        (11, 22),                 # reachable from core -> out
        (22, 11),                 # ...but 22 also links back -> core
    ]

    def _run(self, spark, k=6, seeds=(10,)):
        from med_doi_feature_extraction_spark.operators.graph import (
            bowtie_census,
        )

        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {
            r["node"]: r["component"]
            for r in bowtie_census(e, s, k=k).collect()
        }

    def test_components(self, spark):
        got = self._run(spark)
        assert got == {
            1: "in", 2: "in",
            10: "core", 11: "core", 22: "core",
            20: "out", 21: "out",
            30: "other", 31: "other",
        }

    def test_horizon_bounds_reach(self, spark):
        got = self._run(spark, k=1)
        # 2 is two hops from the core: beyond k=1 -> other
        assert got[1] == "in" and got[2] == "other"
        assert got[21] == "other" and got[20] == "out"

    def test_rejects_zero_horizon(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import (
            bowtie_census,
        )

        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        s = spark.createDataFrame([(0,)], "node long")
        with pytest.raises(ValueError):
            bowtie_census(e, s, k=0)


def test_bowtie_self_loop_only_node_is_other(spark):
    from med_doi_feature_extraction_spark.operators.graph import (
        bowtie_census,
    )

    e = spark.createDataFrame(
        [(1, 10), (10, 20), (5, 5)], "src long, dst long"
    )
    s = spark.createDataFrame([(10,)], "node long")
    got = {
        r["node"]: r["component"]
        for r in bowtie_census(e, s, k=3).collect()
    }
    assert got[5] == "other"  # self-loop-only node stays in the census
    assert got == {1: "in", 10: "core", 20: "out", 5: "other"}


class TestPagerankWeighted:
    def test_equals_exploded_multigraph(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import (
            pagerank,
            pagerank_weighted,
        )

        e = spark.createDataFrame(EDGES, "src long, dst long")
        agg = e.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("long").alias("weight")
        )
        pu = {r["node"]: r["rank"] for r in pagerank(e, n_iter=5).collect()}
        pw = {
            r["node"]: r["rank"]
            for r in pagerank_weighted(agg, n_iter=5).collect()
        }
        assert set(pu) == set(pw)
        for k in pu:
            assert pw[k] == pytest.approx(pu[k], abs=1e-12)

    def test_weight_shifts_rank(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import (
            pagerank_weighted,
        )

        # 0 links to 1 (w=9) and 2 (w=1): 1 must outrank 2
        agg = spark.createDataFrame(
            [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
            "src long, dst long, weight long",
        )
        got = {
            r["node"]: r["rank"]
            for r in pagerank_weighted(agg, n_iter=8).collect()
        }
        assert got[1] > got[2]
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_nonpositive_weights_dropped(self, spark):
        from med_doi_feature_extraction_spark.operators.graph import (
            pagerank_weighted,
        )

        agg = spark.createDataFrame(
            [(0, 1, 1), (0, 2, 0), (0, 3, -5)],
            "src long, dst long, weight long",
        )
        got = {
            r["node"]: r["rank"]
            for r in pagerank_weighted(agg, n_iter=3).collect()
        }
        # dead edges carry no mass AND define no nodes: 2 and 3 are
        # not part of the graph at all (documented contract)
        assert set(got) == {0, 1}
        assert got[1] > 0


# One edge rule for every undirected operator: NULL endpoints,
# self-loops, duplicates and reversed copies never change the result.
SIMPLE_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (2, 5)]
EDGE_NOISE = [(None, 1), (4, None), (None, None), (2, 2), (1, 2), (2, 1)]


def _undirected_cases():
    from med_doi_feature_extraction_spark.operators import graph as g

    def k_hop(df):
        seeds = df.sparkSession.createDataFrame([(1,)], "node long")
        return g.k_hop_reach(df, seeds, k=2)

    return {
        "triangle_count": g.triangle_count,
        "degree_assortativity": g.degree_assortativity,
        "local_clustering": g.local_clustering,
        "k_hop_reach": k_hop,
        "k_core": lambda df: g.k_core(df, k=2),
        "label_communities": lambda df: g.label_communities(df, n_iter=3),
        "link_prediction": lambda df: g.link_prediction(df, min_common=1),
    }


@pytest.mark.parametrize("op", sorted(_undirected_cases()))
def test_dedup_selfloop_direction_invariance(spark, op):
    run = _undirected_cases()[op]
    schema = "src long, dst long"
    clean = run(spark.createDataFrame(SIMPLE_EDGES, schema)).collect()
    noisy = run(
        spark.createDataFrame(SIMPLE_EDGES + EDGE_NOISE, schema)
    ).collect()
    assert clean and sorted(noisy) == sorted(clean)
