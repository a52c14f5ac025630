"""Behavioral invariants for the round-10 operators: the grow-K admit
gate (VERDICT r9 #5 — the production K ∝ n scaling shape as a driver
row) and the intra-batch admit-verdict core (VERDICT r9 #3).

(Oracle hash-equality is tests/test_oracle.py's registry sweep; these
pin the SEMANTIC claims the oracle alone can't state — that K really
derives from the corpus count, that the expected-occupancy discipline
holds, that verdict structure is well-formed, and that the τ-twin
verdict core matches a plain-Python model on arbitrary inputs.)
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from naive_query_engine_spark.operators.kmeans import (
    _UPSERT_TRAIN_PRED,
    GROWK_CELL_TARGET,
    _frozen_assignment,
)
from naive_query_engine_spark.queries import QUERIES, t

from .conftest import SF_ORACLE, SF_SMOKE


def test_growk_quantizer_k_tracks_corpus_count(spark):
    """K = ceil(n_base / GROWK_CELL_TARGET): the trained quantizer's cell
    count is bounded by the formula (Lloyd may drop empty cells, never
    add), is > 1 at the test SFs (a non-degenerate inverted file), and
    mean occupancy ~= GROWK_CELL_TARGET by construction."""
    for sf in (SF_SMOKE, SF_ORACLE):
        assign, centroids = _frozen_assignment(spark, sf, growk=True)
        n_base = (
            t(spark, sf, "embeddings").filter(F.expr(_UPSERT_TRAIN_PRED)).count()
        )
        k_formula = -(-n_base // GROWK_CELL_TARGET)
        assert 1 < len(centroids) <= k_formula
        n_cells = assign.select("cell").distinct().count()
        assert n_cells <= k_formula
        # occupancy discipline: the corpus spreads over ~K cells, so the
        # MEAN per-cell candidate list is O(GROWK_CELL_TARGET)
        n_total = assign.count()
        assert n_total / n_cells <= 2 * GROWK_CELL_TARGET


def test_growk_gate_verdicts_well_formed(spark):
    """Verdict structure: every duplicate names a BASE twin with
    best_cosine >= tau; every non-duplicate has dup_of NULL and
    best_cosine < tau (or no candidate at all); one row per arrival."""
    from naive_query_engine_spark.operators.similarity import COSINE_THRESHOLD

    rows = QUERIES["dedup_ingest_admit_gate_growk"].fn(spark, SF_SMOKE).collect()
    e = t(spark, SF_SMOKE, "embeddings")
    base_ids = {
        r["vec_id"]
        for r in e.filter(F.expr(_UPSERT_TRAIN_PRED)).select("vec_id").collect()
    }
    arrival_ids = {
        r["vec_id"]
        for r in e.filter(~F.expr(_UPSERT_TRAIN_PRED)).select("vec_id").collect()
    }
    assert {r["vec_id"] for r in rows} == arrival_ids
    assert any(r["is_duplicate"] for r in rows)  # non-vacuous
    for r in rows:
        if r["is_duplicate"]:
            assert r["dup_of"] in base_ids
            assert r["best_cosine"] >= COSINE_THRESHOLD
        else:
            assert r["dup_of"] is None
            assert r["best_cosine"] is None or r["best_cosine"] < COSINE_THRESHOLD


def test_exact_twin_flagged_under_fixed_and_grow_k(spark):
    """An EXACT twin (identical quantized vector, new id) is assigned to
    its source's cell under ANY quantizer (identical vectors get
    identical argmin), so BOTH gate regimes — the fixed KMEANS_K and
    the grow-K ⌈n/150⌉ quantizer — must flag the planted arrival with
    dup_of = the source and cosine ≈ 1.  (A cross-gate comparison at a
    high cosine threshold was vacuous at SF_SMOKE — the corpus's max
    duplicate cosine is ~0.43 — and not geometrically guaranteed for
    merely-near twins, whose cells can differ between quantizers.)"""
    from naive_query_engine_spark.operators.kmeans import (
        GROWK_CELL_TARGET,
        KMEANS_ITERS,
        KMEANS_K,
        _admit_verdicts,
        _assign_to_cells,
        train_centroids,
    )
    from naive_query_engine_spark.operators.similarity import _qtable
    from naive_query_engine_spark.queries import cut_lineage, spread

    qt = cut_lineage(
        spread(_qtable(spark, SF_SMOKE).select("vec_id", "q", "nrm2"))
    )
    src = qt.orderBy("vec_id").limit(1).collect()[0]
    planted = spark.createDataFrame(
        [(9_100_001, list(src["q"]), src["nrm2"])],
        "vec_id long, q array<long>, nrm2 long",
    )
    n = qt.count()
    for k in (KMEANS_K, -(-n // GROWK_CELL_TARGET)):
        cents = train_centroids(qt.select("vec_id", "q"), k, KMEANS_ITERS)
        corpus = _assign_to_cells(qt, cents)
        arrivals = _assign_to_cells(planted, cents)
        v = _admit_verdicts(arrivals, corpus, 0.99).collect()
        assert len(v) == 1
        assert v[0]["is_duplicate"], k
        assert v[0]["dup_of"] == src["vec_id"], k
        assert v[0]["best_cosine"] > 0.999, k


_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_VEC = st.lists(st.integers(1, 12), min_size=3, max_size=3)


@given(
    corpus=st.lists(_VEC, min_size=1, max_size=10),
    batch=st.lists(_VEC, min_size=1, max_size=8),
    tau_pct=st.integers(50, 99),
    with_peers=st.booleans(),
)
@_SET
def test_admit_verdicts_matches_python_model(
    spark, corpus, batch, tau_pct, with_peers
):
    """`_admit_verdicts` == a plain-Python argmax over the candidate set
    for ANY small input, with and without the intra-batch peers frame:
    candidates(a) = same-cell corpus ∪ (with peers) same-cell LOWER-ID
    batch members; best twin by (cosine desc, id asc) with the same
    double arithmetic (int dot / sqrt·sqrt product); is_duplicate =
    best_cosine >= τ; no-candidate arrivals get (False, NULL, NULL)."""
    from naive_query_engine_spark.operators.kmeans import _admit_verdicts

    tau = tau_pct / 100.0
    # corpus ids 0..n-1, batch ids 100..; cell = a trivial 2-way split
    crows = [(i, list(v), sum(x * x for x in v), i % 2) for i, v in enumerate(corpus)]
    brows = [
        (100 + i, list(v), sum(x * x for x in v), (100 + i) % 2)
        for i, v in enumerate(batch)
    ]
    cdf = spark.createDataFrame(
        crows, "vec_id long, q array<long>, nrm2 long, cell long"
    )
    arrivals = spark.createDataFrame(
        brows, "vec_id long, q array<long>, nrm2 long, cell long"
    )
    got = {
        r["vec_id"]: (r["is_duplicate"], r["dup_of"], r["best_cosine"])
        for r in _admit_verdicts(
            arrivals, cdf, tau, intra_batch=with_peers
        ).collect()
    }

    def cos(a, an2, b, bn2):
        return sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(float(an2)) * math.sqrt(float(bn2))
        )

    assert set(got) == {bid for bid, *_ in brows}
    for bid, bv, bn2, bcell in brows:
        cands = [(cid, cv, cn2) for cid, cv, cn2, ccell in crows if ccell == bcell]
        if with_peers:
            cands += [
                (pid, pv, pn2)
                for pid, pv, pn2, pcell in brows
                if pcell == bcell and pid < bid
            ]
        scored = sorted(
            ((-cos(bv, bn2, cv, cn2), cid) for cid, cv, cn2 in cands),
        )
        is_dup, dup_of, best = got[bid]
        if not scored:
            assert (is_dup, dup_of, best) == (False, None, None)
            continue
        neg_c, cid = scored[0]
        want_cos = -neg_c
        assert best == want_cos
        assert is_dup == (want_cos >= tau)
        assert dup_of == (cid if want_cos >= tau else None)


def test_kcenter_coreset_coverage_curve(spark):
    """Structure of the Gonzalez output: KCENTER_T rows, distinct picks,
    pick_order 0..T-1, and the selection-distance sequence is
    NON-INCREASING from pick 1 (each pick can only shrink the running
    min-dist of every remaining vector — the 2-approximation's core
    monotonicity)."""
    from naive_query_engine_spark.operators.similarity import KCENTER_T

    rows = sorted(
        (r["pick_order"], r["vec_id"], r["dist2"])
        for r in QUERIES["embedding_kcenter_coreset"].fn(spark, SF_SMOKE).collect()
    )
    assert [o for o, _, _ in rows] == list(range(KCENTER_T))
    assert len({v for _, v, _ in rows}) == KCENTER_T
    d = [d2 for _, _, d2 in rows]
    assert d[0] == 0
    assert all(d[i] >= d[i + 1] for i in range(1, len(d) - 1))
    assert d[1] > 0  # non-vacuous: the corpus is not a single point


@given(
    vecs=st.lists(
        st.lists(st.integers(0, 9), min_size=2, max_size=2),
        min_size=2,
        max_size=12,
    ),
)
@_SET
def test_kcenter_matches_python_greedy(spark, vecs):
    """The distributed selection == a plain-Python Gonzalez greedy for
    arbitrary small inputs (duplicates included): seed = lowest id, then
    argmax of min-dist2 with lowest-id tie-break."""
    from naive_query_engine_spark.operators.similarity import (
        KCENTER_T,
        _dist2_to,
    )
    from naive_query_engine_spark.queries import cut_lineage

    t_picks = min(KCENTER_T, len(vecs))
    rows = [(i, list(v)) for i, v in enumerate(vecs)]
    qt = cut_lineage(spark.createDataFrame(rows, "vec_id long, q array<long>"))

    # python model
    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    want = [(0, 0, 0)]
    md = {i: d2(v, vecs[0]) for i, v in rows}
    for k in range(1, t_picks):
        pid = max(md, key=lambda i: (md[i], -i))
        want.append((k, pid, md[pid]))
        md = {i: min(md[i], d2(vecs[i], vecs[pid])) for i, _ in rows}

    # distributed run (inline, same recurrence as the registered query
    # but parameterized by t_picks so tiny inputs stay valid)
    s = qt.agg(F.min(F.struct("vec_id", "q"))).collect()[0][0]
    got = [(0, int(s["vec_id"]), 0)]
    mdf = qt.select("vec_id", "q", _dist2_to(list(s["q"])).alias("md2"))
    for k in range(1, t_picks):
        top = mdf.agg(
            F.max(F.struct(F.col("md2"), (-F.col("vec_id")).alias("nid"), "q"))
        ).collect()[0][0]
        got.append((k, int(-top["nid"]), int(top["md2"])))
        mdf = mdf.select(
            "vec_id", "q",
            F.least(F.col("md2"), _dist2_to(list(top["q"]))).alias("md2"),
        )
    assert got == want


def test_resolve_dup_roots_pointer_jumps_to_retained(spark):
    """`resolve_dup_roots` (ADVICE r10 #3): canonical_dup_of follows
    dup_of through REJECTED co-arrivals to the retained representative.
    Planted 5-deep chain 105→104→103→102→101→7 (7 = corpus member, so
    not a rejected id) exercises more than one doubling pass; admitted
    rows keep NULL."""
    from naive_query_engine_spark.operators.kmeans import resolve_dup_roots

    rows = [
        (101, True, 7, 0.99),
        (102, True, 101, 0.99),
        (103, True, 102, 0.99),
        (104, True, 103, 0.99),
        (105, True, 104, 0.99),
        (200, True, 9, 0.99),   # direct corpus twin: already canonical
        (300, False, None, 0.4),  # admitted
    ]
    v = spark.createDataFrame(
        rows, "vec_id long, is_duplicate boolean, dup_of long, best_cosine double"
    )
    got = {
        r["vec_id"]: r["canonical_dup_of"]
        for r in resolve_dup_roots(v).collect()
    }
    assert got == {101: 7, 102: 7, 103: 7, 104: 7, 105: 7, 200: 9, 300: None}


def test_resolve_dup_roots_preserves_columns_and_rowcount(spark):
    from naive_query_engine_spark.operators.kmeans import resolve_dup_roots

    v = spark.createDataFrame(
        [(1, True, 0, 0.99), (2, False, None, 0.1)],
        "vec_id long, is_duplicate boolean, dup_of long, best_cosine double",
    )
    out = resolve_dup_roots(v)
    assert out.count() == 2
    assert set(out.columns) == {
        "vec_id", "is_duplicate", "dup_of", "best_cosine", "canonical_dup_of"
    }
