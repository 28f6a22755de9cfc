"""``_to_matrix``: clean Arrow batches take the one-``vstack`` fast
path, dirty ones (NULL or ragged rows) the masked path, and nothing
else is swallowed."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from triple_accel_spark.operators import similarity
from triple_accel_spark.operators.similarity import _to_matrix


def _series(rows):
    return pa.array(rows, type=pa.list_(pa.float64())).to_pandas()


@pytest.mark.parametrize(
    "rows, dim, want_mat, want_ok",
    [
        ([[1.0, 2.0], [3.0, 4.0]], None, [[1.0, 2.0], [3.0, 4.0]], [True, True]),
        ([[1.0, 2.0], None, [3.0, 4.0]], None,
         [[1.0, 2.0], [0.0, 0.0], [3.0, 4.0]], [True, False, True]),
        ([[1.0, 2.0], [1.0, 2.0, 3.0], [3.0, 4.0]], 2,
         [[1.0, 2.0], [0.0, 0.0], [3.0, 4.0]], [True, False, True]),
        # all-NULL and one-wide batches stack without raising; the
        # NULL rows must still be masked, never read as NaN vectors
        ([None, None], 2, [[0.0, 0.0], [0.0, 0.0]], [False, False]),
        ([None, [1.0]], None, [[0.0], [1.0]], [False, True]),
        ([[1.0, 2.0], [3.0, 4.0]], 3, [[0.0] * 3, [0.0] * 3], [False, False]),
    ],
    ids=["clean", "null_row", "ragged_row", "all_null", "null_one_wide", "dim_mismatch"],
)
def test_to_matrix_masks_dirty_rows(rows, dim, want_mat, want_ok):
    mat, ok = _to_matrix(_series(rows), dim)
    assert mat.dtype == np.float64
    np.testing.assert_array_equal(mat, np.array(want_mat))
    np.testing.assert_array_equal(ok, np.array(want_ok))


def test_to_matrix_propagates_unexpected_errors(monkeypatch):
    def boom(_):
        raise MemoryError("stack")

    monkeypatch.setattr(similarity.np, "vstack", boom)
    with pytest.raises(MemoryError):
        _to_matrix(_series([[1.0, 2.0]]))
