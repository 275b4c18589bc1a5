"""_np_matrix (r8): the shared dense-view helper behind every Arrow GEMM
kernel must fail LOUDLY on batches violating the uniform-dim/no-null
embedding contract — Arrow flatten() silently drops null entries and an
evenly-dividing ragged batch reshapes into wrong rows (ADVICE r7).

_cos_blocks: the one row-blocked cosine loop and zero-norm guard behind
the three grouped GEMM kernels. Every fixture cluster is smaller than
_GEMM_BLOCK, so the multi-block path is pinned here with the block size
patched down."""

import numpy as np
import pyarrow as pa
import pytest

from ocr_dataset_builder_spark import queries_corpus as qc
from ocr_dataset_builder_spark.queries_corpus import _cos_blocks, _np_matrix


def test_uniform_batch_roundtrips():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
    X = _np_matrix(arr, "t")
    assert X.shape == (3, 2)
    assert X.dtype == np.float64
    assert (X == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]).all()


def test_ragged_that_divides_evenly_raises():
    # 2 rows, 6 values total -> reshape(2, 3) would "work" and be WRONG
    arr = pa.array([[1.0, 2.0], [3.0, 4.0, 5.0, 6.0]])
    with pytest.raises(ValueError, match="ragged"):
        _np_matrix(arr, "t")


def test_ragged_remainder_raises():
    arr = pa.array([[1.0, 2.0], [3.0]])
    with pytest.raises(ValueError, match="ragged"):
        _np_matrix(arr, "t")


def test_null_entry_raises():
    arr = pa.array([[1.0, 2.0], None, [3.0, 4.0]])
    with pytest.raises(ValueError, match="null"):
        _np_matrix(arr, "t")


def test_sliced_array_is_handled():
    # slices shift the offsets buffer relative to the values buffer;
    # list_value_length + flatten must stay consistent
    arr = pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0]]).slice(1, 2)
    X = _np_matrix(arr, "t")
    assert X.shape == (2, 2)
    assert (X == [[1.0, 2.0], [3.0, 4.0]]).all()


def test_float32_input_upcasts():
    arr = pa.array([[1.5, 2.5]], type=pa.list_(pa.float32()))
    X = _np_matrix(arr, "t")
    assert X.dtype == np.float64 and X.shape == (1, 2)


def test_chunked_array_roundtrips():
    arr = pa.chunked_array([[[1.0, 2.0]], [[3.0, 4.0], [5.0, 6.0]]])
    X = _np_matrix(arr, "t")
    assert (X == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]).all()


def test_chunked_array_null_in_second_chunk_raises():
    arr = pa.chunked_array([[[1.0, 2.0]], [[3.0, 4.0], None]])
    with pytest.raises(ValueError, match="null"):
        _np_matrix(arr, "t")


def _int_vectors(n, seed):
    # integer-valued doubles: every dot product is exact, so blocking
    # cannot change a value and the matrices must match bit-for-bit
    rng = np.random.default_rng(seed)
    X = rng.integers(-3, 4, size=(n, 5)).astype(np.float64)
    X[:, 0] = rng.integers(1, 4, size=n)  # no zero-norm row
    return X


def _assembled(A, B):
    starts, blocks = zip(*_cos_blocks(A, B, "t"))
    assert list(starts) == list(range(0, len(A), qc._GEMM_BLOCK))
    return np.vstack(blocks)


@pytest.mark.parametrize("block", [1, 3])
def test_cos_blocks_equal_single_block(monkeypatch, block):
    A, B = _int_vectors(10, 1), _int_vectors(7, 2)
    whole_self = _assembled(A, A)
    whole_cross = _assembled(A, B)
    assert whole_self.shape == (10, 10) and whole_cross.shape == (10, 7)
    assert (np.diag(whole_self) == 1.0).all()
    monkeypatch.setattr(qc, "_GEMM_BLOCK", block)
    assert np.array_equal(_assembled(A, A), whole_self)
    assert np.array_equal(_assembled(A, B), whole_cross)


@pytest.mark.parametrize("side", ["A", "B", "self"])
def test_cos_blocks_zero_norm_raises(side):
    A, B = _int_vectors(4, 3), _int_vectors(4, 4)
    if side == "B":
        B[2] = 0.0
    else:
        A[1] = 0.0
    with pytest.raises(ValueError, match="zero-norm embedding in t"):
        next(_cos_blocks(A, A if side == "self" else B, "t"))
