import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from llm_rankers_spark.functions.codec import (
    BLOCK,
    decode_varint,
    encode_varint,
    pack_postings,
    unpack_block,
    unpack_lists,
)

from .oracle_bm25 import pack_posting_list


def _pack_one(ords, tfs, dls, **kw) -> dict:
    """One list through the many-list packer → its postings row."""
    cols = pack_postings(ords, tfs, dls, np.array([0]), **kw)
    return {c: v[0] for c, v in cols.items()}


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    blob, nbytes = encode_varint(arr)
    assert decode_varint(blob).tolist() == values
    assert nbytes.sum() == len(blob)


def test_varint_boundaries():
    vals = [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**63 - 1]
    arr = np.array(vals, dtype=np.uint64)
    blob, nbytes = encode_varint(arr)
    assert decode_varint(blob, len(vals)).tolist() == vals
    assert nbytes.tolist() == [1, 1, 1, 2, 2, 3, 3, 4, 9]


def test_varint_rejects_stream_without_count_values():
    # an empty stream holds 0 values, not the 3 asked for
    with pytest.raises(ValueError, match="expected 3"):
        decode_varint(b"", 3)
    assert decode_varint(b"", 0).size == 0
    # the second value's continuation bit is set but its next byte is missing
    with pytest.raises(ValueError, match="ends inside a value"):
        decode_varint(b"\x05\x85", 2)
    with pytest.raises(ValueError, match="ends inside a value"):
        decode_varint(b"\x85")


@given(
    st.lists(st.tuples(st.integers(0, 10**9), st.integers(1, 500), st.integers(1, 5000)), min_size=1, max_size=400)
)
@settings(max_examples=100, deadline=None)
def test_pack_roundtrip(entries):
    # build strictly-increasing ordinals from gaps
    gaps = np.array([e[0] % 1000 + 1 for e in entries], dtype=np.int64)
    ords = np.cumsum(gaps)
    tfs = np.array([e[1] for e in entries], dtype=np.int64)
    dls = np.array([e[2] for e in entries], dtype=np.int64)
    p = _pack_one(ords, tfs, dls, avgdl=100.0)
    o2, t2, l2 = unpack_lists([p["n"]], [p["docs_blob"]], [p["tfs_blob"]], [p["dls_blob"]])
    assert o2.tolist() == ords.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


def test_block_decode_matches_full():
    n = 1000
    rng = np.random.default_rng(7)
    ords = np.cumsum(rng.integers(1, 50, size=n))
    tfs = rng.integers(1, 30, size=n)
    dls = rng.integers(10, 3000, size=n)
    p = _pack_one(ords, tfs, dls, avgdl=500.0)
    nblocks = len(p["doc_offs"])
    assert nblocks == (n + BLOCK - 1) // BLOCK
    got_o, got_t, got_l = [], [], []
    for i in range(nblocks):
        o, t, l = unpack_block(
            p["docs_blob"], p["tfs_blob"], p["dls_blob"],
            np.asarray(p["doc_offs"]), np.asarray(p["tf_offs"]), np.asarray(p["dl_offs"]),
            np.asarray(p["block_last"]), p["n"], i,
        )
        got_o.extend(o.tolist())
        got_t.extend(t.tolist())
        got_l.extend(l.tolist())
    assert got_o == ords.tolist()
    assert got_t == tfs.tolist()
    assert got_l == dls.tolist()


def test_block_max_is_upper_bound():
    n = 300
    rng = np.random.default_rng(3)
    ords = np.cumsum(rng.integers(1, 9, size=n))
    tfs = rng.integers(1, 100, size=n)
    dls = rng.integers(5, 900, size=n)
    avgdl = 200.0
    k1, b = 0.9, 0.4
    p = _pack_one(ords, tfs, dls, avgdl=avgdl, k1=k1, b=b)
    tfn = tfs / (tfs + k1 * (1 - b + b * dls / avgdl))
    for i in range(len(p["doc_offs"])):
        blk = tfn[i * BLOCK : (i + 1) * BLOCK]
        assert p["block_max_tfn"][i] == pytest.approx(blk.max())
        assert (blk <= p["block_max_tfn"][i] + 1e-12).all()


def test_non_increasing_ordinals_rejected():
    with pytest.raises(ValueError):
        _pack_one(np.array([3, 3]), np.array([1, 1]), np.array([1, 1]), avgdl=1.0)
    # a long list whose second block holds the repeat
    ords = np.arange(1, 2 * BLOCK + 1, dtype=np.int64)
    ords[BLOCK + 5] = ords[BLOCK + 4]
    ones = np.ones(ords.size, dtype=np.int64)
    with pytest.raises(ValueError):
        pack_postings(ords, ones, ones, np.array([0]), avgdl=1.0)


def test_empty_posting():
    cols = pack_postings(np.array([], dtype=np.int64), np.array([]), np.array([]), np.array([]), avgdl=1.0)
    assert set(cols) == {
        "n", "docs_blob", "tfs_blob", "dls_blob", "block_last", "block_max_tfn", "doc_offs", "tf_offs", "dl_offs",
    }
    assert all(v == [] for v in cols.values())
    o, t, l = unpack_lists([], [], [], [])
    assert o.size == 0 and t.size == 0 and l.size == 0


@given(
    st.lists(  # lists of (n_entries, gap-seed), single- and multi-block mixed
        st.tuples(st.integers(1, 3 * BLOCK + 1), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
    )
)
@example([(BLOCK, 1), (BLOCK + 1, 2), (1, 3), (2 * BLOCK, 4), (3 * BLOCK + 1, 5)])
@settings(max_examples=100, deadline=None)
def test_batched_pack_byte_identical_to_per_list(groups):
    ords_l, tfs_l, dls_l, starts = [], [], [], []
    pos = 0
    for n, seed in groups:
        g = np.random.default_rng(seed)
        ords_l.append(np.cumsum(g.integers(1, 1000, size=n, dtype=np.int64)))
        tfs_l.append(g.integers(1, 500, size=n, dtype=np.int64))
        dls_l.append(g.integers(1, 5000, size=n, dtype=np.int64))
        starts.append(pos)
        pos += n
    ords = np.concatenate(ords_l)
    tfs = np.concatenate(tfs_l)
    dls = np.concatenate(dls_l)
    got = pack_postings(ords, tfs, dls, np.array(starts), avgdl=123.4)
    assert got["n"] == [n for n, _ in groups]
    for i in range(len(groups)):
        want = pack_posting_list(ords_l[i], tfs_l[i], dls_l[i], avgdl=123.4)
        assert {c: v[i] for c, v in got.items()} == want
    # one batch decode restores every list, with or without the dl column
    o2, t2, l2 = unpack_lists(got["n"], got["docs_blob"], got["tfs_blob"], got["dls_blob"])
    assert o2.tolist() == ords.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()
    o3, t3 = unpack_lists(got["n"], got["docs_blob"], got["tfs_blob"])
    assert o3.tolist() == ords.tolist()
    assert t3.tolist() == tfs.tolist()


def test_batched_pack_rejects_non_increasing_within_group():
    # two groups; second group's interior delta is 0 — must raise even
    # though the cross-group boundary (5 -> 3) is legitimately "decreasing"
    ords = np.array([1, 5, 3, 3], dtype=np.int64)
    ones = np.ones(4, dtype=np.int64)
    pack_postings(np.array([1, 5, 3, 9]), ones, ones, np.array([0, 2]), avgdl=10.0)
    with pytest.raises(ValueError):
        pack_postings(ords, ones, ones, np.array([0, 2]), avgdl=10.0)
