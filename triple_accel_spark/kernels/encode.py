"""Vectorized byte-string batch encoding.

Turns a batch of Python byte strings (or UTF-8 str) into a zero-padded
``(batch, max_len) uint8`` matrix plus a length vector, with a single
``b"".join`` as the only per-row Python work. All kernels consume this
layout and vectorize *across the batch* (the reference vectorizes within
one pair via SIMD registers; we vectorize across pairs via NumPy —
SURVEY.md §1.1).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd


def to_bytes_list(rows: Sequence) -> tuple[list[bytes], np.ndarray]:
    """Normalize a column batch to a list of ``bytes`` plus a validity
    mask. ``None``, ``pd.NA`` and NaN/NaT rows become ``b""`` with
    ``valid=False``; str rows are UTF-8 encoded (Spark StringType is
    UTF-8; byte semantics — reference scores raw u8 bytes,
    lib.rs:41-44)."""
    out: list[bytes] = []
    valid = np.ones(len(rows), dtype=bool)
    for i, r in enumerate(rows):
        if isinstance(r, bytes):
            out.append(r)
        elif isinstance(r, str):
            out.append(r.encode("utf-8"))
        elif isinstance(r, bytearray):
            out.append(bytes(r))
        elif r is None or r is pd.NA or _is_nan(r):
            out.append(b"")
            valid[i] = False
        else:
            out.append(str(r).encode("utf-8"))
    return out, valid


def _is_nan(r) -> bool:
    """NaN and NaT are the scalars unequal to themselves; a value whose
    comparison has no truth value (an array) is not one."""
    try:
        return bool(r != r)
    except (TypeError, ValueError):
        return False


def translate_batch(
    a_rows: Sequence, b_rows: Sequence
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Codepoint-dictionary encoding of two str columns — the analogue
    of the reference's ``translate_str`` (levenshtein.rs:609-624):
    each pair's distinct CODEPOINTS are mapped to u8 symbols; pairs
    whose combined alphabet exceeds 256 are flagged invalid (the
    reference returns ``None``). Distances are then per-character, not
    per-UTF-8-byte.

    Returns ``(a_mat, a_len, b_mat, b_len, valid)``. Each pair gets its
    own dictionary (the kernels only test symbol equality WITHIN a row,
    so per-row alphabets compose with batch vectorization). This is the
    rare-path encoder: it loops per row, unlike ``encode_batch``.
    """
    n = len(a_rows)
    a_cp = [None] * n
    b_cp = [None] * n
    valid = np.ones(n, dtype=bool)
    for i in range(n):
        a, b = a_rows[i], b_rows[i]
        if not isinstance(a, str) or not isinstance(b, str):
            valid[i] = False
            a_cp[i] = b_cp[i] = np.zeros(0, dtype=np.int64)
            continue
        a_cp[i] = np.fromiter((ord(c) for c in a), dtype=np.int64, count=len(a))
        b_cp[i] = np.fromiter((ord(c) for c in b), dtype=np.int64, count=len(b))
        if len(np.union1d(a_cp[i], b_cp[i])) > 256:
            valid[i] = False  # reference: translate_str -> None
    a_len = np.fromiter((len(x) for x in a_cp), dtype=np.int64, count=n)
    b_len = np.fromiter((len(x) for x in b_cp), dtype=np.int64, count=n)
    w_a, w_b = max(int(a_len.max()) if n else 0, 1), max(int(b_len.max()) if n else 0, 1)
    a_mat = np.zeros((n, w_a), dtype=np.uint8)
    b_mat = np.zeros((n, w_b), dtype=np.uint8)
    for i in range(n):
        if not valid[i]:
            continue
        # per-pair dictionary keeps every pair within u8 independently
        alphabet, inv_a = np.unique(
            np.concatenate((a_cp[i], b_cp[i])), return_inverse=True
        )
        a_mat[i, : a_len[i]] = inv_a[: a_len[i]].astype(np.uint8)
        b_mat[i, : b_len[i]] = inv_a[a_len[i] :].astype(np.uint8)
    return a_mat, a_len, b_mat, b_len, valid


def _bag_l1_core(a_mat, a_len, b_mat, b_len) -> np.ndarray:
    n = a_mat.shape[0]
    offsets = np.arange(n, dtype=np.int64) << 8
    # histogram the full padded matrices (no per-row masks), then
    # correct bin 0 for the padding bytes — one bincount per side
    ka = a_mat.astype(np.int64)
    ka += offsets[:, None]
    ha = np.bincount(ka.reshape(-1), minlength=n << 8)
    ha[offsets] -= a_mat.shape[1] - a_len
    kb = b_mat.astype(np.int64)
    kb += offsets[:, None]
    hb = np.bincount(kb.reshape(-1), minlength=n << 8)
    hb[offsets] -= b_mat.shape[1] - b_len
    return np.abs(ha - hb).reshape(n, 256).sum(axis=1)


def bag_l1(a_mat, a_len, b_mat, b_len) -> np.ndarray:
    """Per-row L1 distance between the two sides' character histograms.
    O(total chars) via one bincount per side over packed (row, char)
    keys. Basis for edit-distance lower bounds: a substitution changes
    the histogram L1 by at most 2, an insert/delete by at most 1, a
    transposition by 0.

    Requires ZERO-PADDED matrices as produced by ``encode_batch`` (the
    bin-0 padding correction assumes it); NOT valid on matrices coming
    out of ``_trim_common``'s no-rebuild path, which shortens lengths
    without clearing the suffix bytes.

    Length-skewed batches (padded width >> mean length — possible for
    direct ``lev_batch`` callers like the streaming blocks, which are
    not `_dist_series`-chunk-sorted) are processed in length-sorted
    chunks with per-chunk width trim, bounding the transient int64
    copies to O(chunk x chunk_width) instead of O(n x max_len)."""
    n = a_mat.shape[0]
    width = max(a_mat.shape[1], b_mat.shape[1])
    if n > 64:
        ml = np.maximum(a_len, b_len)
        if width > 4 * max(float(ml.mean()), 1.0):
            order = np.argsort(ml, kind="stable")
            out = np.empty(n, dtype=np.int64)
            step = 4096
            for s in range(0, n, step):
                idx = order[s:s + step]
                wa = max(int(a_len[idx].max()), 1)
                wb = max(int(b_len[idx].max()), 1)
                out[idx] = _bag_l1_core(
                    a_mat[idx][:, :wa], a_len[idx],
                    b_mat[idx][:, :wb], b_len[idx],
                )
            return out
    return _bag_l1_core(a_mat, a_len, b_mat, b_len)


def bag_lower_bound(a_mat, a_len, b_mat, b_len) -> np.ndarray:
    """Unit-cost edit-distance lower bound: non-transposition op count
    is ``>= L1/2`` (see ``bag_l1``), combined with the length
    difference."""
    l1 = bag_l1(a_mat, a_len, b_mat, b_len)
    return np.maximum((l1 + 1) // 2, np.abs(a_len - b_len))


def encode_batch(rows: Sequence) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Encode a batch into ``(mat, lengths, valid)``.

    ``mat`` is ``(n, max_len) uint8`` zero-padded; ``lengths`` is int64;
    ``valid`` is a bool mask (False for null inputs, which encode as
    empty strings).
    """
    blist, valid = to_bytes_list(rows)
    n = len(blist)
    lengths = np.fromiter((len(b) for b in blist), dtype=np.int64, count=n)
    max_len = int(lengths.max()) if n else 0
    if n == 0 or max_len == 0:
        return np.zeros((n, max(max_len, 1)), dtype=np.uint8), lengths, valid
    # pad each row to max_len and reinterpret the joined buffer as the
    # matrix — one C-level memcpy per row beats a 1M-element fancy
    # scatter by ~3x on typical batches
    mat = (
        np.frombuffer(
            b"".join(s.ljust(max_len, b"\0") for s in blist), dtype=np.uint8
        )
        .reshape(n, max_len)
        .copy()  # frombuffer is read-only; kernels expect writable
    )
    return mat, lengths, valid
