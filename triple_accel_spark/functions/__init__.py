"""Column functions: Arrow-batched pandas UDFs wrapping the NumPy kernels.

Every function here returns a pyspark ``Column`` backed by a scalar
pandas UDF (Series -> Series, Arrow transfer) — whole candidate-pair
partitions are scored vectorized with no per-row Python (north-star
requirement). Cost/threshold parameters are captured as plain Python
scalars in the UDF closure (tiny pickles), never as columns.

Operator parity map (SURVEY.md §2):
  D1-D5   hamming()                    — one NumPy kernel subsumes the
                                         naive/words/SIMD variants
  D6      F.levenshtein or edit_distance() (unit costs, Myers)
  D7/D13  edit_distance()              — exact distance; exponential
                                         k-search is an execution detail
  D8      edit_distance(k=...)         — NULL when distance > k
  D9-D11  edit_distance(costs=...), edit_traceback()
  D12     rdamerau()                   — OSA transpositions
  S1-S3   hamming_search()
  S4-S6   edit_search()
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from triple_accel_spark.kernels.banded import lev_batch
from triple_accel_spark.kernels.costs import (
    EditCosts,
    LEVENSHTEIN_COSTS,
    RDAMERAU_COSTS,
)
from triple_accel_spark.kernels.encode import bag_lower_bound as _bag_lower_bound
from triple_accel_spark.kernels.hamming import hamming_batch, hamming_search_batch
from triple_accel_spark.kernels.myers import myers_batch
from triple_accel_spark.kernels.search import lev_search_batch

# chunking keeps each kernel call's working set (bit-vector arrays +
# the (rows, words, 256) pattern table) inside cache: rows*words is
# bounded, so long strings get narrow chunks and short strings wide
# ones. Measured on 600-char pairs: a fixed 4096-row chunk runs ~4x
# slower than an 800-row chunk purely from cache pressure.
_CHUNK_BUDGET_WORDS = 8192
_CHUNK_MIN = 64
_CHUNK_TRACE = 256

MATCH_SCHEMA = "array<struct<start:int,end:int,k:int>>"
TRACE_SCHEMA = "array<struct<edit:string,count:int>>"


def _sorted_chunks(n: int, order_key: np.ndarray, chunk: int | None = None):
    """Yield index arrays: length-sorted chunks (so each kernel call
    loops only to its own chunk's max length), restoring original order
    via the returned indices.

    With ``chunk=None`` the chunk size adapts to string length:
    ``rows * words(max_len)`` is capped at ``_CHUNK_BUDGET_WORDS``."""
    order = np.argsort(order_key, kind="stable")
    if chunk is not None:
        for i in range(0, n, chunk):
            yield order[i : i + chunk]
        return
    key_sorted = order_key[order]
    i = 0
    while i < n:
        w = max(1, (int(key_sorted[i]) + 63) >> 6)
        end = min(i + max(_CHUNK_MIN, _CHUNK_BUDGET_WORDS // w), n)
        # refine with the tentative chunk's own max (keys ascend)
        w2 = max(1, (int(key_sorted[end - 1]) + 63) >> 6)
        end = min(i + max(_CHUNK_MIN, _CHUNK_BUDGET_WORDS // w2), n)
        yield order[i:end]
        i = end


def _lengths(s: pd.Series) -> np.ndarray:
    return np.fromiter(
        (len(x) if isinstance(x, (str, bytes)) else 0 for x in s),
        dtype=np.int64,
        count=len(s),
    )


def _translate_objs(ca, cb):
    """Codepoint-dictionary rewrite (reference translate_str): both
    sides of each pair re-expressed as u8-symbol byte strings; pairs
    with >256 distinct codepoints become (None, None) -> NULL."""
    from triple_accel_spark.kernels.encode import translate_batch

    am, al, bm, bl, ok = translate_batch(ca, cb)
    ta = np.empty(len(ca), dtype=object)
    tb = np.empty(len(cb), dtype=object)
    for i in range(len(ca)):
        if ok[i]:
            ta[i] = am[i, : al[i]].tobytes()
            tb[i] = bm[i, : bl[i]].tobytes()
        else:
            ta[i] = tb[i] = None
    return ta, tb


_EXP_START_K = 30  # the reference's levenshtein_exp first attempt
# (levenshtein.rs:1445-1454). With the banded kernel this makes UNBOUNDED
# calls adaptive per row; unlike the reference's full doubling ladder we
# use TWO rungs (narrow band, then full): candidate-pair distance
# distributions are bimodal (near-duplicate or very distant), so middle
# rungs only add work — measured: doubling ladder ran unrelated pairs
# 2.5x slower than full, the two-rung ladder ~1.1x, while near-dups
# resolve in the first 1-word band at ~3x full throughput.


def _myers_exp(ca, cb, max_len: int):
    """Exact unit-cost distance via adaptive banding: rows whose cheap
    histogram lower bound permits a small distance try a narrow band
    first; everything else (and narrow-band misses) runs full. Encoded
    once, shared across both passes."""
    from triple_accel_spark.kernels.encode import encode_batch
    from triple_accel_spark.kernels.myers import myers_batch_encoded

    n = len(ca)
    if n == 0 or max_len <= 2 * _EXP_START_K:
        return myers_batch(ca, cb, None)
    a_mat, a_len, a_ok = encode_batch(ca)
    b_mat, b_len, b_ok = encode_batch(cb)
    valid = a_ok & b_ok
    lb = _bag_lower_bound(a_mat, a_len, b_mat, b_len)

    d_out = np.full(n, -1, dtype=np.int64)
    ok_out = np.zeros(n, dtype=bool)
    narrow = np.nonzero(valid & (lb <= _EXP_START_K))[0]
    if narrow.size:
        # narrow rows already satisfy lb <= k; skip the in-kernel bound
        d, ok = myers_batch_encoded(
            a_mat[narrow], a_len[narrow], b_mat[narrow], b_len[narrow],
            valid[narrow], _EXP_START_K, prefilter=False,
        )
        d_out[narrow[ok]] = d[ok]
        ok_out[narrow[ok]] = True
    pending = np.nonzero(valid & ~ok_out)[0]
    if pending.size:
        d, ok = myers_batch_encoded(
            a_mat[pending], a_len[pending], b_mat[pending], b_len[pending],
            valid[pending], None,
        )
        d_out[pending] = d
        ok_out[pending] = ok
    return d_out, ok_out


def _dist_series(
    a: pd.Series, b: pd.Series, k, costs: EditCosts, unicode: bool = False
) -> pd.Series:
    """``k`` may be None (unbounded), an int (one cutoff for the whole
    batch), or a float ndarray (per-row cutoff; NaN rows -> NULL)."""
    n = len(a)
    out = np.full(n, np.nan)
    key = np.maximum(_lengths(a), _lengths(b))
    av, bv = a.to_numpy(dtype=object), b.to_numpy(dtype=object)
    k_null = None
    k_int = None
    if isinstance(k, np.ndarray):
        k_null = ~np.isfinite(k)
        k_int = np.where(k_null, 0, k).astype(np.int64)
    for idx in _sorted_chunks(n, key):
        ca, cb = av[idx], bv[idx]
        kk = k_int[idx] if k_int is not None else k
        if unicode:
            ca, cb = _translate_objs(ca, cb)
        if costs.is_unit:
            if kk is None:
                d, ok = _myers_exp(ca, cb, int(key[idx].max()) if len(idx) else 0)
            else:
                d, ok = myers_batch(ca, cb, kk)
        else:
            d, ok, _ = lev_batch(ca, cb, kk, costs)
        vals = np.where(ok, d.astype(float), np.nan)
        out[idx] = vals
    if k_null is not None:
        out[k_null] = np.nan
    return pd.Series(out)


def edit_distance(
    a, b, k: int | Column | None = None, costs: EditCosts = LEVENSHTEIN_COSTS,
    unicode: bool = False,
) -> Column:
    """Generalized edit distance column; NULL where distance > ``k`` or
    an input is NULL. Unit costs dispatch to the Myers bit-parallel
    kernel; any other cost model uses the generalized DP kernel.

    ``k`` may be an int (one cutoff for the whole batch, captured in
    the UDF closure) or a Column (per-PAIR cutoff — the reference's
    per-call ``k`` semantics, e.g. ``(1-tau) * greatest(len_a, len_b)``
    so a long outlier never widens every other pair's band); rows with
    NULL ``k`` yield NULL.

    ``unicode=False`` scores raw UTF-8 BYTES (the reference's u8
    semantics, lib.rs:41-44); ``unicode=True`` scores per CODEPOINT via
    a per-pair ≤256-symbol dictionary (the reference's
    ``levenshtein_simd_k_str``/``translate_str`` adapter,
    levenshtein.rs:609-651), yielding NULL where the alphabet
    overflows, as the reference returns ``None``.

    NOTE: the returned expression is marked ``asNondeterministic()``
    even though it is deterministic in fact. This stops Catalyst from
    evaluating the expensive kernel TWICE when the same expression is
    referenced by both a projection and a pushed-down filter (verified
    via ``.explain``: exactly one ArrowEvalPython node). Consequence:
    Catalyst rejects nondeterministic expressions inside join
    conditions, grouping keys and some filters — compute the distance
    with ``withColumn`` first, then join/group/filter on the
    materialized column."""

    if isinstance(k, Column):

        @pandas_udf("int")
        def _udf3(sa: pd.Series, sb: pd.Series, sk: pd.Series) -> pd.Series:
            return _dist_series(
                sa, sb, sk.to_numpy(dtype="float64", na_value=np.nan), costs, unicode
            )

        return _udf3.asNondeterministic()(a, b, k)

    @pandas_udf("int")
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return _dist_series(sa, sb, k, costs, unicode)

    # deterministic in fact, but flagged otherwise so Catalyst never
    # duplicates the expensive kernel across a pushed-down filter
    # (a plain UDF referenced by both a projection and an
    # isnotnull-filter is evaluated TWICE — verified via .explain)
    return _udf.asNondeterministic()(a, b)


def rdamerau(a, b, k: int | None = None) -> Column:
    """Restricted Damerau-Levenshtein (OSA) distance
    (reference levenshtein.rs:1419-1423)."""
    return edit_distance(a, b, k, RDAMERAU_COSTS)


def hamming(a, b) -> Column:
    """Hamming distance; NULL for unequal lengths (the reference
    panics — reference hamming.rs:38).

    Marked ``asNondeterministic()`` (deterministic in fact) to stop
    Catalyst double-evaluating the kernel across pushed-down filters;
    consequence: not usable inside join conditions / grouping keys —
    materialize via ``withColumn`` first (see ``edit_distance``)."""

    @pandas_udf("int")
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
        d, ok = hamming_batch(sa.to_numpy(dtype=object), sb.to_numpy(dtype=object))
        return pd.Series(np.where(ok, d.astype(float), np.nan))

    return _udf.asNondeterministic()(a, b)


def edit_traceback(a, b, costs: EditCosts = LEVENSHTEIN_COSTS) -> Column:
    """Run-length-encoded edit script as array<struct<edit,count>>
    (reference Edit/EditType, lib.rs:147-165)."""

    @pandas_udf(TRACE_SCHEMA)
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
        n = len(sa)
        out = [None] * n
        key = np.maximum(_lengths(sa), _lengths(sb))
        av, bv = sa.to_numpy(dtype=object), sb.to_numpy(dtype=object)
        for idx in _sorted_chunks(n, key, _CHUNK_TRACE):
            _, ok, traces = lev_batch(av[idx], bv[idx], None, costs, trace=True)
            for pos, i in enumerate(idx):
                if ok[pos] and traces[pos] is not None:
                    out[i] = [
                        {"edit": e, "count": c} for e, c in traces[pos]
                    ]
        return pd.Series(out)

    return _udf(a, b)


EDIT_TRACE_SCHEMA = "cost int, trace array<struct<edit:string,count:int>>"


def edit_with_traceback(
    a, b, k: int | None = None, costs: EditCosts = LEVENSHTEIN_COSTS
) -> Column:
    """Distance AND run-length-encoded edit script from ONE kernel run:
    ``struct<cost int, trace array<struct<edit,count>>>`` (the
    reference's with_opts functions return the ``(cost, trace)`` tuple
    in one call, levenshtein.rs:714,1480 — separate ``edit_distance`` +
    ``edit_traceback`` columns would run the DP twice). Fields are NULL
    where the distance exceeds ``k`` or an input is NULL. Marked
    nondeterministic like the sibling kernel UDFs: otherwise a filter
    on the returned struct gets the UDF duplicated into the pushed-down
    predicate AND the projection, running the trace DP twice — the
    exact duplication this one-call form exists to avoid."""

    @pandas_udf(EDIT_TRACE_SCHEMA)
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.DataFrame:
        n = len(sa)
        cost_out = np.full(n, np.nan)
        trace_out: list = [None] * n
        key = np.maximum(_lengths(sa), _lengths(sb))
        av, bv = sa.to_numpy(dtype=object), sb.to_numpy(dtype=object)
        for idx in _sorted_chunks(n, key, _CHUNK_TRACE):
            d, ok, traces = lev_batch(av[idx], bv[idx], k, costs, trace=True)
            for pos, i in enumerate(idx):
                if ok[pos]:
                    cost_out[i] = d[pos]
                    if traces[pos] is not None:
                        trace_out[i] = [
                            {"edit": e, "count": c} for e, c in traces[pos]
                        ]
        return pd.DataFrame({"cost": cost_out, "trace": trace_out})

    return _udf.asNondeterministic()(a, b)


def edit_search(
    needle,
    haystack,
    k: int | None = None,
    search_type: str = "best",
    costs: EditCosts = LEVENSHTEIN_COSTS,
    anchored: bool = False,
) -> Column:
    """Fuzzy substring search: array of {start, end, k} matches
    (reference levenshtein_search family)."""

    @pandas_udf(MATCH_SCHEMA)
    def _udf(sn: pd.Series, sh: pd.Series) -> pd.Series:
        n = len(sn)
        out = [None] * n
        key = _lengths(sh)
        nv, hv = sn.to_numpy(dtype=object), sh.to_numpy(dtype=object)
        for idx in _sorted_chunks(n, key):
            res = lev_search_batch(nv[idx], hv[idx], k, search_type, costs, anchored)
            for pos, i in enumerate(idx):
                if res[pos] is not None:
                    out[i] = [
                        {"start": s, "end": e, "k": kk} for s, e, kk in res[pos]
                    ]
        return pd.Series(out)

    return _udf(needle, haystack)


def hamming_search(
    needle, haystack, k: int | None = None, search_type: str = "best"
) -> Column:
    """Sliding-window Hamming search: array of {start, end, k}
    (reference hamming_search family)."""

    @pandas_udf(MATCH_SCHEMA)
    def _udf(sn: pd.Series, sh: pd.Series) -> pd.Series:
        res = hamming_search_batch(
            sn.to_numpy(dtype=object), sh.to_numpy(dtype=object), k, search_type
        )
        return pd.Series(
            [
                None
                if r is None
                else [{"start": s, "end": e, "k": kk} for s, e, kk in r]
                for r in res
            ]
        )

    return _udf(needle, haystack)


def pair_budget(threshold: float, len_a: Column, len_b: Column) -> Column:
    """Per-pair distance budget ``ceil((1-t) * greatest(len_a, len_b,
    1))`` over two length Columns (see ``scoring.relative_k_col``)."""
    maxlen = F.greatest(len_a, len_b, F.lit(1))
    return F.ceil(F.lit(1.0 - threshold) * maxlen.cast("double")).cast("int")


def max_length_gap(k: Column, costs: EditCosts) -> Column:
    """Largest length difference a per-pair budget Column ``k`` admits:
    every unit of length gap costs at least one gap."""
    return F.floor(
        F.greatest(k - F.lit(costs.start_gap_cost), F.lit(0)) / F.lit(costs.gap_cost)
    )


def length_prefilter(
    a, b, k: int | Column, costs: EditCosts = LEVENSHTEIN_COSTS
) -> Column:
    """Catalyst-native k-cutoff prune: pairs whose length difference
    alone exceeds the band can never be within k
    (reference levenshtein.rs:428-430). Apply BEFORE the scoring UDF so
    the predicate pushes down and the Python exchange shrinks.

    ``k`` may be a Column for per-pair cutoffs (see ``edit_distance``);
    the bound stays whole-stage-codegen either way."""
    if isinstance(k, Column):
        return F.abs(F.length(a) - F.length(b)) <= max_length_gap(k, costs)
    unit_k = max(k - costs.start_gap_cost, 0) // costs.gap_cost
    return F.abs(F.length(a) - F.length(b)) <= F.lit(unit_k)


def jaro_winkler(a, b) -> Column:
    """Jaro-Winkler similarity (double in [0, 1]) on UTF-8 bytes — the
    conventional name-field comparator for record linkage (ER-graft
    extension; the reference ships edit-family distances only). NULL
    where an input is NULL. Semantics pinned bit-for-bit to DuckDB's
    ``jaro_winkler_similarity`` (kernels/jaro.py has the spec); Winkler
    boost only above jaro 0.7, prefix capped at 4."""
    from triple_accel_spark.kernels.jaro import jaro_batch

    @pandas_udf("double")
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
        _, jw, ok = jaro_batch(sa.to_numpy(dtype=object), sb.to_numpy(dtype=object))
        return pd.Series(np.where(ok, jw, np.nan))

    return _udf.asNondeterministic()(a, b)


def jaro_sim(a, b) -> Column:
    """Plain Jaro similarity (no Winkler prefix boost); see
    ``jaro_winkler``."""
    from triple_accel_spark.kernels.jaro import jaro_batch

    @pandas_udf("double")
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
        j, _, ok = jaro_batch(sa.to_numpy(dtype=object), sb.to_numpy(dtype=object))
        return pd.Series(np.where(ok, j, np.nan))

    return _udf.asNondeterministic()(a, b)


def damerau_levenshtein(a, b) -> Column:
    """UNRESTRICTED Damerau-Levenshtein distance (Lowrance-Wagner) on
    UTF-8 bytes — completes the family next to the reference's
    restricted OSA ``rdamerau`` (levenshtein.rs:1419-1423 implements
    OSA only). O(la*lb) full DP with a per-chunk (n, la+2, lb+2) cube:
    intended for short name-like fields; the banded OSA kernel remains
    the long-document scale path. NULL where an input is NULL."""
    from triple_accel_spark.kernels.damerau import dl_batch

    @pandas_udf("long")
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
        d, ok = dl_batch(sa.to_numpy(dtype=object), sb.to_numpy(dtype=object))
        return pd.Series(np.where(ok, d.astype(float), np.nan))

    return _udf.asNondeterministic()(a, b)


def jw_length_bound(a, b, threshold: float) -> Column:
    """Catalyst-native prune for Jaro-Winkler thresholds, the analogue
    of ``length_prefilter`` for the edit family. From m <= min(la, lb):
    jaro <= (2 + min/max) / 3, and the Winkler boost (prefix <= 4)
    lifts any j to at most 0.6*j + 0.4, so
    ``jw <= 0.8 + 0.2 * min(la,lb)/max(la,lb)`` — a pair can only reach
    ``threshold`` when the length ratio is >= 5*threshold - 4 (binding
    only for thresholds above 0.8). A 1e-9 slack keeps rounding-
    boundary pairs (prefilters round toward keeping).

    Lengths are OCTET lengths: the kernel scores UTF-8 BYTES, so the
    bound must be computed in the same units — ``F.length`` counts
    characters, and on multibyte text the char ratio can sit far below
    the byte ratio, wrongly pruning a pair whose byte-JW meets the
    threshold."""
    lo = F.least(F.octet_length(a), F.octet_length(b)).cast("double")
    hi = F.greatest(F.octet_length(a), F.octet_length(b), F.lit(1)).cast("double")
    return lo / hi >= F.lit(5.0 * threshold - 4.0 - 1e-9)
