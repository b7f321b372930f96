"""A8 codec properties (SURVEY.md §5: hypothesis round-trips + bound checks)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from localsearchengine_spark.operators import codec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    stream = codec.encode_varints_with_lengths(arr)[0]
    assert np.array_equal(codec.decode_varints(stream, len(arr)), arr)


def block_column(*block_lists):
    """Encoded block lists → an Arrow ``blocks`` column (one row per list)
    with the on-disk block struct type, as the index readers see it."""
    import pyarrow as pa

    from localsearchengine_spark.operators.postings import postings_arrow_schema

    typ = postings_arrow_schema().field("blocks").type
    return pa.array([[b._asdict() for b in bl] for bl in block_lists], type=typ)


@given(
    st.lists(st.integers(min_value=1, max_value=10**7), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(deltas, block_size):
    """encode_blocks → Arrow column → read_blocks: decode_all and every
    decode_block give back the encoded postings and block metadata."""
    doc_ids = np.cumsum(np.asarray(deltas, dtype=np.int64))  # strictly increasing
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 50, size=len(doc_ids)).astype(np.int64)
    dls = rng.integers(1, 200, size=len(doc_ids)).astype(np.int64)
    blocks = codec.encode_blocks(
        doc_ids, tfs, dls, block_size=block_size, k1=1.2, b=0.75, avgdl=50.0
    )
    sb = codec.read_blocks(block_column(blocks), [0])
    assert len(sb) == len(blocks)
    d, t, L = sb.decode_all()
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(L, dls)
    # block metadata invariants: max_doc_id exact, tf_norm_max is an upper bound
    pos = 0
    for i, blk in enumerate(blocks):
        seg = slice(pos, pos + blk.n)
        bd, bt, bL = sb.decode_block(i)
        assert np.array_equal(bd, doc_ids[seg])
        assert np.array_equal(bt, tfs[seg])
        assert np.array_equal(bL, dls[seg])
        assert sb.counts[i] == blk.n
        assert sb.max_doc_id[i] == blk.max_doc_id == int(doc_ids[seg][-1])
        assert sb.tf_norm_max[i] == blk.tf_norm_max
        tfn = tfs[seg] / (tfs[seg] + 1.2 * (1 - 0.75 + 0.75 * dls[seg] / 50.0))
        assert blk.tf_norm_max >= tfn.max() - 1e-15
        pos += blk.n
    assert pos == len(doc_ids)


def test_read_blocks_row_order_and_positions():
    """Rows are concatenated in the order asked for, whether or not they are
    adjacent in the column, and the pos stream decodes flat and per block."""
    rng = np.random.default_rng(3)
    lists, poss = [], []
    for lo in (0, 1000, 2000):
        ids = np.sort(rng.choice(np.arange(lo, lo + 900), 40, replace=False))
        tfs = rng.integers(1, 4, size=len(ids)).astype(np.int64)
        dls = rng.integers(5, 30, size=len(ids)).astype(np.int64)
        pos = np.concatenate([np.sort(rng.choice(30, t, replace=False)) for t in tfs])
        blocks = codec.encode_blocks(
            ids, tfs, dls, block_size=16, k1=1.2, b=0.75, avgdl=20.0, positions=pos
        )
        lists.append((ids, tfs, blocks))
        poss.append(pos)
    col = block_column(*(bl for _, _, bl in lists))
    for rows in ([0, 1, 2], [0, 2], [2, 0, 1], [1]):
        sb = codec.read_blocks(col, rows, codec.STREAMS + ("pos",))
        d, t, _ = sb.decode_all()
        assert np.array_equal(d, np.concatenate([lists[r][0] for r in rows]))
        assert np.array_equal(t, np.concatenate([lists[r][1] for r in rows]))
        flat = sb.decode_positions(t)
        assert np.array_equal(flat, np.concatenate([poss[r] for r in rows]))
        pos_blocks = [sb.decode_positions(sb.decode_block(i)[1], i) for i in range(len(sb))]
        assert np.array_equal(np.concatenate(pos_blocks), flat)


def test_empty():
    assert codec.encode_varints_with_lengths(np.empty(0, dtype=np.uint64))[0] == b""
    assert len(codec.decode_varints(b"", 0)) == 0
    assert codec.encode_blocks(
        np.empty(0), np.empty(0), np.empty(0), block_size=128, k1=1.2, b=0.75, avgdl=10
    ) == []
    sb = codec.read_blocks(block_column([]), [0])
    d, t, L = sb.decode_all()
    assert len(sb) == 0 and len(d) == 0 and len(t) == 0 and len(L) == 0


def test_big_doc_ids():
    # 10^12-turn design scale: doc_ids near 2^40+ must round-trip
    doc_ids = np.asarray([10**12, 10**12 + 1, 10**12 + 10**9], dtype=np.int64)
    tfs = np.asarray([1, 2, 3], dtype=np.int64)
    dls = np.asarray([10, 20, 30], dtype=np.int64)
    blocks = codec.encode_blocks(doc_ids, tfs, dls, block_size=2, k1=1.2, b=0.75, avgdl=20.0)
    d, t, L = codec.read_blocks(block_column(blocks), [0]).decode_all()
    assert np.array_equal(d, doc_ids)


def test_docids_from_deltas_overflow_fallback():
    """A running global cumsum of concatenated absolute-first blocks can
    exceed 2^63 (many blocks x huge doc_ids); the decoder must fall back to
    per-block cumsums instead of silently wrapping."""
    import numpy as np

    from localsearchengine_spark.operators.codec import docids_from_deltas

    base = np.int64(2**62)  # huge absolute first doc_id per block
    n_blocks, per = 8, 4
    vals = np.tile(np.array([base, 1, 1, 1], dtype=np.uint64), n_blocks)
    counts = np.full(n_blocks, per, dtype=np.int64)
    got = docids_from_deltas(vals, counts)
    exp = np.concatenate([base + np.arange(per, dtype=np.int64)] * n_blocks)
    assert (got == exp).all()
    assert (got > 0).all()  # no silent int64 wrap


def test_binary_offsets_large_and_small():
    import numpy as np
    import pyarrow as pa

    from localsearchengine_spark.operators.codec import _binary_offsets

    vals = [b"ab", b"", b"cdef", b"g"]
    for typ in (pa.binary(), pa.large_binary()):
        arr = pa.array(vals, type=typ)
        offs = _binary_offsets(arr)
        assert offs.dtype == np.int64
        assert offs.tolist() == [0, 2, 2, 6, 7]
    sliced = pa.array(vals, type=pa.binary()).slice(1, 3)
    assert _binary_offsets(sliced).tolist() == [2, 2, 6, 7]
