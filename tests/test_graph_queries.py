"""Round-7 graph/audit queries: per-node clustering coefficient,
common-neighbor link prediction (incl. the hub-pivot degree cap),
SimHash separation — brute-force differentials in plain Python."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

from pyspark.sql import functions as F

from frames_spark.queries import QUERIES
from frames_spark.queries.q07_corpus_gates import _LP_MAX_DEG


def _edges_from_lineitem(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    baskets = defaultdict(set)
    for r in rows:
        baskets[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    return edges


def test_clustering_coeff_matches_bruteforce(spark, sf_dir):
    edges = _edges_from_lineitem(spark, sf_dir)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    got = {
        r.node: (r.degree, r.n_triangles, r.clustering_micros)
        for r in QUERIES["q_clustering_coeff"](spark, sf_dir).collect()
    }
    want = {}
    for n, ns in adj.items():
        d = len(ns)
        if d < 2:
            continue
        t = sum(1 for a, b in combinations(sorted(ns), 2) if b in adj[a])
        cm = (4 * t * 1000000 + d * (d - 1)) // (2 * d * (d - 1))
        want[n] = (d, t, cm)
    assert got == want


def _brute_link_prediction(edges, cap):
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    common = defaultdict(int)
    for p, ns in adj.items():
        if len(ns) > cap:
            continue
        for a, b in combinations(sorted(ns), 2):
            common[(a, b)] += 1
    out = []
    for (a, b), c in common.items():
        if (a, b) in edges:
            continue
        un = len(adj[a]) + len(adj[b]) - c
        out.append((a, b, c, (2 * c * 1000 + un) // (2 * un)))
    out.sort(key=lambda t: (-t[2], t[0], t[1]))
    return out[:20]


def test_link_prediction_matches_bruteforce(spark, sf_dir):
    edges = _edges_from_lineitem(spark, sf_dir)
    got = [
        (r.part_a, r.part_b, r.common_neighbors, r.jaccard_milli)
        for r in QUERIES["q_link_prediction"](spark, sf_dir).collect()
    ]
    assert got == _brute_link_prediction(edges, _LP_MAX_DEG)


def test_link_prediction_hub_cap_drops_mega_basket(spark, tmp_path):
    # one mega-order connects parts 0..N-1 pairwise: every such part
    # has degree >= N-1 > _LP_MAX_DEG, so the hub pivots generate no
    # wedges; predictions come only from the two small orders below,
    # whose shared part 3 is itself a hub (degree N+1) — capped too,
    # so the only wedge pivots are the small orders' NON-hub parts.
    n = _LP_MAX_DEG + 6
    rows = [(1, p) for p in range(n)]
    # small orders: {3, n, n+1} and {3, n, n+2} — pivot n (degree 3)
    # predicts (n+1, n+2); pivots n+1/n+2 have degree 2 each
    rows += [(2, 3), (2, n), (2, n + 1), (3, 3), (3, n), (3, n + 2)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = [
        (r.part_a, r.part_b, r.common_neighbors, r.jaccard_milli)
        for r in QUERIES["q_link_prediction"](spark, str(tmp_path)).collect()
    ]
    edges = _edges_from_lineitem(spark, str(tmp_path))
    assert got == _brute_link_prediction(edges, _LP_MAX_DEG)
    # the uncapped answer would differ (hub wedges create many more
    # candidates), proving the cap is live
    assert got != _brute_link_prediction(edges, 10**9)
    # and the capped prediction (n+1, n+2) via pivot n survives
    assert (n + 1, n + 2) in {(a, b) for a, b, _, _ in got}


def test_simhash_accuracy_separates_planted_dups(spark, sf_dir):
    out = QUERIES["q_simhash_accuracy"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    by_label = defaultdict(list)
    for r in out:
        by_label[r.label].append(r)
    assert sum(r.n_pairs for r in by_label["dup"]) == n_docs
    assert sum(r.n_pairs for r in by_label["non_dup"]) == n_docs - 1

    def mean_h(rows):
        tot = sum(r.n_pairs for r in rows)
        return sum(r.hamming * r.n_pairs for r in rows) / tot

    def mean_j(rows):
        tot = sum(r.n_pairs for r in rows)
        return sum(r.mean_jaccard * r.n_pairs for r in rows) / tot

    # near-copies sit at small Hamming distance and high Jaccard;
    # unrelated consecutive docs at large distance and ~0 Jaccard
    assert mean_h(by_label["dup"]) < mean_h(by_label["non_dup"])
    assert mean_j(by_label["dup"]) > 0.5 > mean_j(by_label["non_dup"])
