"""Driver-window rotation invariants (rotation.py is what decides which
queries the round driver correctness-checks — a name typo there would
silently shrink the window, so pin its contract)."""

from __future__ import annotations

import pytest

from naive_query_engine_spark.queries import QUERIES, query
from naive_query_engine_spark.rotation import (
    DRIVER_SAMPLED,
    RESAMPLE_SLOTS,
    ROTATION,
    SENTINELS,
    WINDOW_SIZE,
    ordered_names,
    resample_names,
)


def test_ordering_is_a_permutation_of_the_registry():
    names = ordered_names()
    assert len(names) == len(QUERIES)
    assert set(names) == set(QUERIES)


def test_schedule_names_all_exist():
    for n in SENTINELS + ROTATION:
        assert n in QUERIES, n
    for n in DRIVER_SAMPLED:
        assert n in QUERIES, n


def test_window_shape():
    names = ordered_names()
    window = names[:WINDOW_SIZE]
    k = len(SENTINELS)
    # sentinels lead every window
    assert list(window[:k]) == list(SENTINELS)
    # maintenance mode (VERDICT r10 #1): never-sampled registrations come
    # next (no name with an external row may sit in front of one without),
    # then the oldest-first resample slots fill the window to exactly 50
    queue_left = {n for n in ROTATION if n not in DRIVER_SAMPLED}
    n_fresh = WINDOW_SIZE - k - RESAMPLE_SLOTS
    fresh = window[k : k + n_fresh]
    for n in fresh:
        assert n not in DRIVER_SAMPLED, n
    assert queue_left <= set(fresh) or len(queue_left) > n_fresh
    resample = window[k + n_fresh :]
    assert list(resample) == list(resample_names())
    for n in resample:
        assert n in DRIVER_SAMPLED and n not in SENTINELS, n
    # the maintenance-mode floor: ≥30 genuine re-checks per window
    assert len(resample) >= 30
    # every window entry carries a full oracle (rows+schema+hash check)
    for n in window:
        assert QUERIES[n].oracle is not None, n
    assert len(window) == WINDOW_SIZE


def test_resample_slots_are_deterministic_oldest_first():
    from naive_query_engine_spark.rotation import LAST_SAMPLED

    a, b = resample_names(), resample_names()
    assert a == b
    assert len(a) == RESAMPLE_SLOTS == len(set(a))
    for n in a:
        assert n in QUERIES and QUERIES[n].oracle is not None, n
    # oldest-first: no name OUTSIDE the resample set may be staler than
    # any name inside it
    pool = set(a)
    outside = [
        n for n in LAST_SAMPLED
        if n not in pool and n not in SENTINELS and n in QUERIES
    ]
    if outside and a:
        max_inside = max(LAST_SAMPLED.get(n, 0) for n in a)
        min_outside = min(LAST_SAMPLED.get(n, 0) for n in outside)
        # resample_names sorts by (round, name), so even a boundary round
        # split by name keeps max_inside == min_outside; any strict
        # inversion is a real staleness bug (ADVICE r11 #3)
        assert max_inside <= min_outside


def test_rotation_has_no_duplicates():
    assert len(ROTATION) == len(set(ROTATION))
    assert not (set(ROTATION) & set(SENTINELS))


def test_registration_requires_an_oracle():
    with pytest.raises(TypeError):
        query("x", tags=())
    with pytest.raises(ValueError, match="declares no oracle"):
        query("x", oracle=None, tags=())
    assert "x" not in QUERIES


def test_every_registered_oracle_is_sql_text():
    for name, spec in QUERIES.items():
        assert isinstance(spec.oracle, str) and spec.oracle.strip(), name


def test_reading_a_built_oracle_registers_nothing():
    names = list(QUERIES)
    assert "SELECT" in QUERIES["dedup_ingest_admit_gate_growk"].oracle
    assert list(QUERIES) == names
