"""``kmeans.cell_mutual_knn_edges`` against a pure-Python mutual top-k.

The kernel ranks each cell member's other members by (cosine DESC,
vec_id ASC) and keeps the pairs that are in each other's top-k.  The
reference below recomputes that per cell from the same integer vectors,
with the same float64 cosine (exact integer dot over the product of the
two norms' square roots), so the comparison is exact.  The cells are
built to exercise the tie-break (copies of one vector give bit-equal
cosines), the one- and two-member cells, and top_k on both sides of the
cell size.
"""

from __future__ import annotations

import math
import random

from naive_query_engine_spark.operators.kmeans import cell_mutual_knn_edges


def _cells() -> dict[int, list[tuple[int, list[int]]]]:
    rng = random.Random(5)
    base = [rng.randint(-3, 3) for _ in range(4)]
    return {
        # a lone member has no neighbour
        0: [(7, [1, 2, 3, 4])],
        # two members are each other's only neighbour
        1: [(3, [1, 0, 0, 0]), (11, [0, 1, 0, 0])],
        # four copies of one vector: every pair among ids 20-23 has the
        # same cosine, bit for bit, so vec_id ASC decides the ranks
        2: [
            (23, [1, 1, 0, 0]),
            (21, [1, 1, 0, 0]),
            (20, [1, 1, 0, 0]),
            (22, [1, 1, 0, 0]),
            (24, [1, 0, 0, 0]),
            (25, [0, 1, 0, 0]),
            (26, [-1, -1, 0, 0]),
        ],
        # small random integers, half of them copies of one base vector
        3: [
            (100 + i, list(base) if i % 2 else [rng.randint(-3, 3) for _ in range(4)])
            for i in range(12)
        ],
    }


def _reference(cells, top_k: int) -> set[tuple[int, int, int]]:
    """(vec_a, vec_b, cell): mutual top-k by (cosine DESC, id ASC)."""
    edges = set()
    for cell, members in cells.items():
        vec = dict(members)
        n2 = {i: sum(x * x for x in v) for i, v in vec.items()}

        def cos(a, b):
            dot = sum(x * y for x, y in zip(vec[a], vec[b]))
            return float(dot) / (math.sqrt(n2[a]) * math.sqrt(n2[b]))

        top = {
            a: set(sorted((b for b in vec if b != a), key=lambda b: (-cos(a, b), b))[:top_k])
            for a in vec
        }
        edges |= {
            (a, b, cell) for a in vec for b in top[a] if a < b and a in top[b]
        }
    return edges


def test_kernel_matches_python_mutual_top_k(spark):
    cells = _cells()
    assign = spark.createDataFrame(
        [
            (vid, q, sum(x * x for x in q), cell)
            for cell, members in cells.items()
            for vid, q in members
        ],
        "vec_id long, q array<long>, nrm2 long, cell long",
    )
    largest = max(len(m) for m in cells.values())
    for top_k in (1, 2, 5, largest - 1, largest + 10):
        want = _reference(cells, top_k)
        got = {tuple(r) for r in cell_mutual_knn_edges(assign, top_k, with_cell=True).collect()}
        assert got == want, top_k
        got = {tuple(r) for r in cell_mutual_knn_edges(assign, top_k).collect()}
        assert got == {(a, b) for a, b, _ in want}, top_k
    # the two-member cell always yields its one edge; the lone member none
    assert (3, 11, 1) in want and not any(c == 0 for *_, c in want)
    # with ties broken by id, 20's top-1 is 21 and 21's is 20; 22 and 23
    # rank 20 first, and 20 ranks 21 first
    assert {e for e in _reference(cells, 1) if e[2] == 2} == {(20, 21, 2)}
