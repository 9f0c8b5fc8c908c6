"""Driver-local connected-components kernel (``_cc_numpy_labels``)
against a union-find reference — pure numpy, no Spark session, so it
runs in the fast tier."""

from __future__ import annotations

import random

import numpy as np

from rt_bigdata_spark.operators.graph import _cc_numpy_labels


def _union_find_labels(edges):
    """Reference: union-find with path compression + union by size,
    min id tracked per root. Returns {node: smallest id reachable}."""
    parent: dict = {}
    size: dict = {}
    least: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
                least[n] = n
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if size[ra] < size[rb]:
            ra, rb = rb, ra
        parent[rb] = ra
        size[ra] += size[rb]
        least[ra] = min(least[ra], least[rb])
    return {n: least[find(n)] for n in parent}


def test_numpy_cc_labels_equal_union_find():
    """The vectorized numpy min-label/pointer-jumping CC computes the
    union-find's function (min reachable node id) on long paths
    (multi-round pointer jumping), cliques, stars, duplicate/
    symmetrized edges, sparse random graphs, string ids (ranked by
    ``np.unique`` over an object array, as a string column's Arrow
    collect arrives) and the empty edge set."""
    rng = random.Random(16)
    cases = [
        [(i, i + 1) for i in range(5000, 5600)],                      # long path
        [(a, b) for a in range(50) for b in range(a + 1, 50)],        # clique
        [(0, i) for i in range(1, 300)],                              # star
        [(i, i + 1) for i in range(0, 100, 2)],                       # matching
        [],                                                           # no edges
    ]
    for _ in range(5):
        n = 800
        cases.append(
            [(rng.randrange(n) + 10**9, rng.randrange(n) + 10**9) for _ in range(700)]
        )
    for _ in range(2):
        cases.append(
            [(f"doc-{rng.randrange(300)}", f"doc-{rng.randrange(300)}") for _ in range(250)]
        )
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        sym = pairs + [(b, a) for a, b in pairs]
        dtype = object if sym and isinstance(sym[0][0], str) else np.int64
        src = np.array([a for a, _ in sym], dtype=dtype)
        dst = np.array([b for _, b in sym], dtype=dtype)
        ids, labs = _cc_numpy_labels(src, dst)
        assert dict(zip(ids.tolist(), labs.tolist())) == _union_find_labels(sym)
