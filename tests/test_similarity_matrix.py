"""The Arrow-matrix helper behind sim_cosine_pairs and sim_knn: its
zero-copy reshape must equal the per-row form, and ragged or null input
must take the per-row fallback."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from shippinglanes_spark.functions.similarity import _embedding_matrix


def _batch(rows):
    return pa.RecordBatch.from_arrays(
        [pa.array(rows, pa.list_(pa.float32()))], names=["embedding"]
    )


def _per_row(batch):
    col = batch.column("embedding")
    return np.asarray([np.asarray(v, dtype=np.float64) for v in col.to_pylist()])


def test_uniform_rows_reshape_equals_per_row():
    batch = _batch([[0.1, 0.2, 0.3], [1.5, -2.0, 0.25], [3.0, 0.0, -1.0]])
    got = _embedding_matrix(batch)
    assert got.dtype == np.float64 and got.shape == (3, 3)
    np.testing.assert_array_equal(got, _per_row(batch))
    # a sliced batch keeps its own rows (offsets do not start at 0)
    np.testing.assert_array_equal(_embedding_matrix(batch.slice(1)), got[1:])


def test_null_inside_values_equals_per_row():
    batch = _batch([[0.5, None], [1.0, 2.0]])
    got = _embedding_matrix(batch)
    np.testing.assert_array_equal(got, _per_row(batch))
    assert np.isnan(got[0, 1])


def test_ragged_rows_take_the_fallback():
    # widths 2, 1, 3 hold 6 values = 3 rows x width 2, so a reshape
    # without the width check would return a wrong 3x2 matrix silently;
    # the per-row form refuses the inhomogeneous rows
    batch = _batch([[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]])
    with pytest.raises(ValueError, match="inhomogeneous"):
        _per_row(batch)
    with pytest.raises(ValueError, match="inhomogeneous"):
        _embedding_matrix(batch)
