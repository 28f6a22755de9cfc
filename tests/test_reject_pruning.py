"""Boundary tests for the reject-pruning layer (bag-bound prefilter,
banded early abandonment, generalized two-row Ukkonen stop).

The pruning layer must be invisible at the API: rows with true
distance <= k keep exact results; rows above k are invalid (sentinel
dist allowed). The dangerous regime is the k boundary on LONG strings
(band + abandonment active) — a too-aggressive abandon would kill a
dist==k row. Oracles: the scalar reference port
(triple_accel_spark/kernels/reference.py).
"""

from __future__ import annotations

import numpy as np
import pytest

from triple_accel_spark.kernels.banded import lev_batch
from triple_accel_spark.kernels.costs import (
    EditCosts,
    LEVENSHTEIN_COSTS,
    RDAMERAU_COSTS,
)
from triple_accel_spark.kernels.encode import bag_l1, encode_batch
from triple_accel_spark.kernels.myers import myers_batch
from triple_accel_spark.kernels.reference import levenshtein as ref_lev

RNG = np.random.default_rng(20260817)


def _rand(L, rng=RNG):
    return bytes(rng.integers(97, 123, L, dtype=np.uint8))


def _plant_edits(s: bytes, n_edits: int, rng=RNG) -> bytes:
    """Apply exactly n_edits random single-char substitutions at
    distinct positions (distance <= n_edits; usually == for random
    targets)."""
    b = bytearray(s)
    pos = rng.choice(len(s), size=n_edits, replace=False)
    for p in pos:
        old = b[p]
        new = int(rng.integers(97, 123))
        while new == old:
            new = int(rng.integers(97, 123))
        b[p] = new
    return bytes(b)


def test_abandon_never_kills_boundary_rows():
    """Long strings, planted distances straddling k: every dist<=k row
    must survive abandonment with its exact distance."""
    k = 40
    A, B = [], []
    for _ in range(120):
        L = int(RNG.integers(320, 700))
        a = _rand(L)
        # mix: exactly-k, k+1..k+4, far-below-k, and unrelated rows
        r = RNG.random()
        if r < 0.25:
            b = _plant_edits(a, k)
        elif r < 0.5:
            b = _plant_edits(a, k + int(RNG.integers(1, 5)))
        elif r < 0.75:
            b = _plant_edits(a, int(RNG.integers(1, 8)))
        else:
            b = _rand(int(RNG.integers(320, 900)))
        A.append(a)
        B.append(b)
    d, ok = myers_batch(A, B, k)
    for i in range(len(A)):
        true, _ = ref_lev(A[i], B[i])
        if true <= k:
            assert ok[i] and d[i] == true, (i, d[i], true)
        else:
            assert not ok[i], (i, int(d[i]), true)


def test_abandon_with_per_row_k_and_mixed_lengths():
    """Per-pair k column + wildly mixed text lengths: retirement and
    abandonment interleave; compaction must keep row identity."""
    A, B, ks = [], [], []
    for _ in range(150):
        L = int(RNG.integers(1, 700))
        a = _rand(L)
        if RNG.random() < 0.5:
            b = _plant_edits(a, min(int(RNG.integers(0, 60)), max(L - 1, 1)))
        else:
            b = _rand(int(RNG.integers(1, 800)))
        A.append(a)
        B.append(b)
        ks.append(int(RNG.integers(0, 80)))
    karr = np.array(ks, dtype=np.int64)
    d, ok = myers_batch(A, B, karr)
    for i in range(len(A)):
        true, _ = ref_lev(A[i], B[i])
        if true <= ks[i]:
            assert ok[i] and d[i] == true, (i, d[i], true, ks[i])
        else:
            assert not ok[i], (i, int(d[i]), true, ks[i])


@pytest.mark.parametrize(
    "costs",
    [LEVENSHTEIN_COSTS, RDAMERAU_COSTS, EditCosts(2, 3, 1),
     EditCosts(3, 2, 1, 2)],
)
def test_generalized_two_row_stop_boundary(costs):
    """Generalized kernel with the two-row Ukkonen stop: planted
    boundary pairs (including adjacent transpositions for OSA costs)
    must keep exact costs at <=k and reject above."""
    k = 60
    A, B = [], []
    for _ in range(60):
        L = int(RNG.integers(250, 500))
        a = _rand(L)
        r = RNG.random()
        if r < 0.3:
            b = _plant_edits(a, int(RNG.integers(0, 40)))
        elif r < 0.5 and costs.allow_transpose:
            # adjacent swaps at spaced positions: pure transpositions
            bb = bytearray(a)
            for p in RNG.choice(L // 2 - 1, size=10, replace=False):
                q = 2 * int(p)
                bb[q], bb[q + 1] = bb[q + 1], bb[q]
            b = bytes(bb)
        elif r < 0.7:
            b = _rand(int(RNG.integers(250, 600)))
        else:
            # shuffled: histogram-identical, prefilter can't fire —
            # exercises the in-DP stop specifically
            b = bytes(
                RNG.permutation(np.frombuffer(a, dtype=np.uint8)).tobytes()
            )
        A.append(a)
        B.append(b)
    d, ok, _ = lev_batch(A, B, k, costs)
    for i in range(len(A)):
        true, _ = ref_lev(A[i], B[i], costs=costs)
        if true <= k:
            assert ok[i] and d[i] == true, (i, int(d[i]), true)
        else:
            assert not ok[i], (i, int(d[i]), true)


def test_anagram_rows_exact_under_band():
    """Histogram-identical pairs below k must come back exact even
    though their siblings in the same batch abandon."""
    k = 30
    A, B = [], []
    for _ in range(64):
        L = 400
        a = _rand(L)
        # swap two spaced chars: distance exactly 2 (two substitutions
        # of distinct values), histogram unchanged
        bb = bytearray(a)
        i1, i2 = 10, 200
        while a[i1] == a[i2]:
            a = _rand(L)
            bb = bytearray(a)
        bb[i1], bb[i2] = bb[i2], bb[i1]
        A.append(a)
        B.append(bytes(bb))
        # unrelated filler rows that abandon
        A.append(a)
        B.append(_rand(L))
    d, ok = myers_batch(A, B, k)
    for i in range(0, len(A), 2):
        assert ok[i] and d[i] == 2, (i, int(d[i]))
    for i in range(1, len(A), 2):
        true, _ = ref_lev(A[i], B[i])
        assert bool(ok[i]) == (true <= k)


# --- bag-L1 reject at its boundary -----------------------------------
# A substitution by a letter absent from both strings moves the
# histogram L1 by exactly 2; appending such a letter moves it by 1.


def _boundary_pair(n_subs: int, n_appends: int, L: int = 40) -> tuple[bytes, bytes]:
    a = _rand(L)
    b = bytearray(a)
    fresh = iter(range(65, 91))  # uppercase: never in `a`
    for p in RNG.choice(L, size=n_subs, replace=False):
        b[int(p)] = next(fresh)
    for _ in range(n_appends):
        b.append(next(fresh))
    return a, bytes(b)


def _bag_bound(a: bytes, b: bytes, costs: EditCosts) -> int:
    """The prefilter's lower bound for one pair (see ``lev_batch``;
    ``myers_batch``'s ``bag_lower_bound`` is its unit-cost case)."""
    a_mat, a_len, _ = encode_batch([a])
    b_mat, b_len, _ = encode_batch([b])
    l1 = int(bag_l1(a_mat, a_len, b_mat, b_len)[0])
    m2g = min(costs.mismatch_cost, 2 * costs.gap_cost)
    dl = abs(len(a) - len(b))
    return max((l1 * m2g + 1) // 2, dl * costs.gap_cost + (costs.start_gap_cost if dl else 0))


def _check_boundary(run, costs, kept, rejected, ks_kept, ks_rejected, per_row):
    """``kept`` pairs sit at bound == k == true distance and must come
    back exact; ``rejected`` pairs sit at bound == k + 1."""
    pairs = kept + rejected
    ks = ks_kept + ks_rejected
    for (a, b), k in zip(kept, ks_kept):
        assert _bag_bound(a, b, costs) == k == ref_lev(a, b, costs=costs)[0]
    for (a, b), k in zip(rejected, ks_rejected):
        assert _bag_bound(a, b, costs) == k + 1
    k_arg = np.array(ks, dtype=np.int64) if per_row else ks[0]
    d, ok = run([p[0] for p in pairs], [p[1] for p in pairs], k_arg)
    n = len(kept)
    assert ok[:n].all() and list(d[:n]) == ks_kept
    assert not ok[n:].any()


@pytest.mark.parametrize("per_row", [False, True])
def test_bag_reject_boundary_myers(per_row):
    ks = [1, 3, 6] if per_row else [4, 4, 4]
    kept, rejected = [], []
    for k in ks:
        kept += [_boundary_pair(k, 0), _boundary_pair(k - 1, 1)]  # L1 = 2k, 2k-1
        rejected += [_boundary_pair(k + 1, 0), _boundary_pair(k, 1)]
    doubled = [k for k in ks for _ in range(2)]
    _check_boundary(
        myers_batch, LEVENSHTEIN_COSTS, kept, rejected, doubled, doubled, per_row
    )


@pytest.mark.parametrize("per_row", [False, True])
@pytest.mark.parametrize(
    "costs",
    # min(mismatch, 2*gap) = 2*gap = 2, and = mismatch = 2 with a gap open
    [EditCosts(3, 1), EditCosts(2, 3, 1)],
)
def test_bag_reject_boundary_lev_batch(costs, per_row):
    """Substitutions by fresh letters cost ``m2g = min(mismatch,
    2*gap)`` each and move L1 by 2, so ``n`` of them put the bound and
    the distance at ``n * m2g``; one more appended letter lifts the
    bound by one."""
    m2g = min(costs.mismatch_cost, 2 * costs.gap_cost)
    subs = [2, 3, 5] if per_row else [3, 3, 3]
    kept = [_boundary_pair(n, 0) for n in subs]
    rejected = [_boundary_pair(n, 1) for n in subs]
    ks = [n * m2g for n in subs]

    def run(a, b, k):
        d, ok, _ = lev_batch(a, b, k, costs)
        return d, ok

    _check_boundary(run, costs, kept, rejected, ks, ks, per_row)
