"""Batch kernels vs the ported reference vectors.

Every vector runs (a) as a batch of one and (b) embedded in one big
shuffled mixed batch — pair-for-pair agreement with the scalar oracle
(north-star requirement)."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from tests.test_reference_oracle import (
    HAMMING_CASES,
    HAMMING_SEARCH_CASES,
    LEV_CASES,
    LEV_K_CASES,
    SEARCH_CASES,
    TRACE_CASES,
)
from triple_accel_spark.functions import _dist_series
from triple_accel_spark.kernels.banded import lev_batch
from triple_accel_spark.kernels.costs import LEVENSHTEIN_COSTS
from triple_accel_spark.kernels.encode import to_bytes_list
from triple_accel_spark.kernels.hamming import hamming_batch, hamming_search_batch
from triple_accel_spark.kernels.myers import myers_batch
from triple_accel_spark.kernels.reference import (
    hamming_search,
    levenshtein,
    levenshtein_search,
)
from triple_accel_spark.kernels.search import lev_search_batch


def test_hamming_batch_vectors():
    a = [c[0] for c in HAMMING_CASES]
    b = [c[1] for c in HAMMING_CASES]
    want = [c[2] for c in HAMMING_CASES]
    dist, ok = hamming_batch(a, b)
    assert ok.all()
    assert list(dist) == want


def test_hamming_batch_invalid_rows():
    dist, ok = hamming_batch([b"ab", None, b"abc"], [b"abc", b"x", b"abd"])
    assert list(ok) == [False, False, True]
    assert dist[2] == 1


def test_pandas_nulls_are_invalid_rows():
    """``pd.NA`` (the NULL of pandas ``string`` Series), NaN and NaT
    encode as invalid rows, not as the text of their repr."""
    rows, ok = to_bytes_list([pd.NA, None, float("nan"), pd.NaT, "<NA>", b"b"])
    assert list(ok) == [False, False, False, False, True, True]
    assert rows[4:] == [b"<NA>", b"b"]
    dist, ok = hamming_batch([pd.NA, b"abc"], [b"abc", b"abd"])
    assert list(ok) == [False, True] and dist[1] == 1


@pytest.mark.parametrize("k", [None, 3])
def test_dist_series_pd_na_scores_null(k):
    a = pd.Series(["<NA>", None, "abc"], dtype="string")
    b = pd.Series([None, "<NA>", "abd"], dtype="string")
    got = _dist_series(a, b, k, LEVENSHTEIN_COSTS)
    assert got.isna().tolist() == [True, True, False]
    assert got[2] == 1


@pytest.mark.parametrize("needle,hay,k,st,want", HAMMING_SEARCH_CASES)
def test_hamming_search_batch_vectors(needle, hay, k, st, want):
    got = hamming_search_batch([needle], [hay], k, st)[0]
    assert got == [tuple(m) for m in want]


def test_lev_batch_mixed_vectors():
    """All distance vectors per cost model, shuffled into one batch."""
    rng = random.Random(123)
    by_costs: dict = {}
    for a, b, costs, want in LEV_CASES:
        by_costs.setdefault(costs, []).append((a, b, want))
    for costs, cases in by_costs.items():
        cases = cases * 3
        rng.shuffle(cases)
        dist, ok, _ = lev_batch(
            [c[0] for c in cases], [c[1] for c in cases], None, costs
        )
        assert ok.all()
        assert list(dist) == [c[2] for c in cases]


def test_lev_batch_k_vectors():
    by_costs: dict = {}
    for a, b, k, costs, want in LEV_K_CASES:
        by_costs.setdefault((costs, k), []).append((a, b, want))
    for (costs, k), cases in by_costs.items():
        dist, ok, _ = lev_batch(
            [c[0] for c in cases], [c[1] for c in cases], k, costs
        )
        for i, (_, _, want) in enumerate(cases):
            if want is None:
                assert not ok[i]
            else:
                assert ok[i] and dist[i] == want


def test_myers_batch_unit_vectors():
    unit = [(a, b, w) for a, b, costs, w in LEV_CASES if costs.is_unit]
    dist, ok = myers_batch([c[0] for c in unit], [c[1] for c in unit])
    assert ok.all()
    assert list(dist) == [c[2] for c in unit]


def test_myers_batch_k_none():
    # levenshtein_simd_k(b"abcde", b"hello", 1) == None (basic_tests.rs:539-542)
    dist, ok = myers_batch([b"abcde"], [b"hello"], k=1)
    assert not ok[0]
    # contract: dist is a sentinel above k when invalid (reference
    # returns None); the bag-bound prefilter may report k+1, not the
    # true distance
    assert dist[0] > 1


def test_lev_batch_trace_goldens():
    for a, b, costs, want_d, want_tr in TRACE_CASES:
        dist, ok, traces = lev_batch([a], [b], None, costs, trace=True)
        assert ok[0] and dist[0] == want_d
        assert traces[0] == [tuple(e) for e in want_tr]


def test_search_batch_vectors_mixed():
    """Search vectors grouped by (k, search_type, costs, anchored) and
    run as multi-row batches."""
    groups: dict = {}
    for needle, hay, k, st, costs, anch, want in SEARCH_CASES:
        groups.setdefault((k, st, costs, anch), []).append((needle, hay, want))
    for (k, st, costs, anch), cases in groups.items():
        got = lev_search_batch(
            [c[0] for c in cases], [c[1] for c in cases], k, st, costs, anch
        )
        for i, (_, _, want) in enumerate(cases):
            assert got[i] == [tuple(m) for m in want]


def test_search_batch_null_rows():
    got = lev_search_batch([b"ab", None, pd.NA], [b"xaby", b"x", b"<NA>"], 1, "all")
    assert got[1] is None and got[2] is None
    assert got[0] == [
        tuple(m) for m in levenshtein_search(b"ab", b"xaby", 1, "all")
    ]


def test_myers_matches_banded_and_oracle_random():
    rng = random.Random(99)
    pairs = []
    for _ in range(200):
        la, lb = rng.randint(0, 90), rng.randint(0, 90)
        pairs.append(
            (
                bytes(rng.randint(33, 126) for _ in range(la)),
                bytes(rng.randint(33, 126) for _ in range(lb)),
            )
        )
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    d_m, ok_m = myers_batch(a, b)
    d_b, ok_b, _ = lev_batch(a, b, None, LEVENSHTEIN_COSTS)
    assert ok_m.all() and ok_b.all()
    assert (d_m == d_b).all()
    want = np.array([levenshtein(x, y)[0] for x, y in pairs])
    assert (d_m == want).all()


def test_mutation_bound_property():
    """Reference mutation model (benches/rand_benchmarks.rs:207-238):
    a string mutated with <= k edits is within distance k."""
    rng = np.random.default_rng(42)
    for _ in range(30):
        length = int(rng.integers(10, 200))
        a = rng.integers(33, 127, length, dtype=np.uint8)
        k = max(1, length // 10)
        b = list(a.tolist())
        for _ in range(k):
            op = rng.integers(0, 3)
            pos = int(rng.integers(0, len(b))) if b else 0
            if op == 0 and b:
                b[pos] = int(rng.integers(33, 127))
            elif op == 1:
                b.insert(pos, int(rng.integers(33, 127)))
            elif b:
                del b[pos]
        av, bv = bytes(a.tolist()), bytes(b)
        d, ok = myers_batch([av], [bv], k=k)
        assert ok[0] and d[0] <= k
