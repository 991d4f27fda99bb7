"""Posting-list codec: delta + varint (LEB128) with block-max metadata.

The reference delegates index storage to Lucene (Rank-R1/bright/
index_corpus.sh:3-9); this module is our native replacement. Everything is
numpy-vectorized so it runs fast inside Arrow-batched UDFs (no per-row
Python in the hot path).

Layout of one packed posting list (one (term, shard) row):

- ``docs_blob``  : varint stream of doc-ordinal deltas (first value is the
  ordinal itself; block *i*'s first delta is relative to block *i-1*'s last
  ordinal, so any block can be decoded after a skip using ``block_last``).
- ``tfs_blob``   : varint stream of term frequencies, same order.
- ``dls_blob``   : varint stream of document lengths, same order. Storing dl
  inline (like Lucene's norms, one value per posting) keeps BM25 scoring a
  single sequential read — no N-way join against a doc-length table at
  query time, which is the difference between a scan and a shuffle at
  10^12 docs.
- ``block_last`` : last doc ordinal of each 128-entry block (skip pointers).
- ``block_max_tfn``: per-block max of tf/(tf + k1*(1-b+b*dl/avgdl)) at the
  index's k1, b and avgdl — the block-max WAND upper bound is
  ``idf * block_max_tfn``. A search always scores with the baked k1 and b;
  under another avgdl (global statistics across segments) the scorer
  rescales the bounds (``bm25._bound_scale``).
- ``doc_offs``/``tf_offs``/``dl_offs``: byte offset of each block's start in
  the corresponding blob, enabling block-aligned decode after a skip.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

BLOCK = 128
DEFAULT_K1 = 0.9  # reference README.md:70 (pyserini --k1 0.9 --b 0.4)
DEFAULT_B = 0.4

_U64 = np.uint64
_MASK7 = _U64(0x7F)


def encode_varint(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array (vectorized, no per-value Python loop)
    → (stream, each value's encoded length in bytes)."""
    v = np.ascontiguousarray(values, dtype=_U64)
    # number of 7-bit groups per value (1..10)
    nbytes = np.ones(v.shape, dtype=np.int64)
    if v.size == 0:
        return b"", nbytes
    for k in range(1, 10):
        nbytes += (v >= (_U64(1) << _U64(7 * k))).astype(np.int64)
    offs = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offs[1:])
    out = np.zeros(int(offs[-1] + nbytes[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        byte = ((v[mask] >> _U64(7 * j)) & _MASK7).astype(np.uint8)
        cont = ((nbytes[mask] - 1) > j).astype(np.uint8) << 7
        out[offs[mask] + j] = byte | cont
    return out.tobytes(), nbytes


def decode_varint(buf: bytes | memoryview, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 stream to uint64 (vectorized via reduceat). With
    ``count`` given, a stream that does not hold exactly that many values
    raises ``ValueError``; so does a stream ending inside a value."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        out = np.zeros(0, dtype=_U64)
    elif b[-1] & 0x80:
        raise ValueError("varint stream ends inside a value")
    else:
        out = _decode_nonempty(b)
    if count is not None and out.size != count:
        raise ValueError(f"decoded {out.size} values, expected {count}")
    return out


def _decode_nonempty(b: np.ndarray) -> np.ndarray:
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    idx = np.arange(b.size, dtype=np.int64)
    group = np.searchsorted(ends, idx)
    shift = ((idx - starts[group]) * 7).astype(_U64)
    chunks = (b.astype(_U64) & _MASK7) << shift
    return np.bitwise_or.reduceat(chunks, starts)


def pack_postings(
    doc_ords: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    avgdl: float,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> dict[str, list]:
    """Pack MANY posting lists of any length in one vectorized pass.

    ``doc_ords``/``tfs``/``dls`` are the concatenated lists; ``starts`` the
    list start indices (lists contiguous and non-empty, ordinals strictly
    increasing within each). Returns columns keyed like the postings
    schema, one element per list.

    A code corpus has millions of rare identifier terms whose lists hold a
    handful of entries, so per-list numpy-call overhead (not the encoding
    itself) would dominate a build. LEB128 encodes each value
    independently, so the concatenation of per-list blobs equals the
    per-list slices of one whole-array encoding: three encodes per Arrow
    batch, whatever the list lengths. Blocks partition each list and the
    lists partition the arrays, so one ``maximum.reduceat`` over all block
    starts gives every block's bound, and the cumulative byte counts give
    every list's blob range and every block's offset in its list's blob.
    """
    n_total = int(doc_ords.size)
    if n_total == 0:
        return {c: [] for c in (
            "n", "docs_blob", "tfs_blob", "dls_blob", "block_last",
            "block_max_tfn", "doc_offs", "tf_offs", "dl_offs",
        )}
    doc_ords = np.ascontiguousarray(doc_ords, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:]
    ends[-1] = n_total

    deltas = np.empty(n_total, dtype=np.int64)
    deltas[1:] = doc_ords[1:] - doc_ords[:-1]
    deltas[starts] = doc_ords[starts]
    interior = np.ones(n_total, dtype=bool)
    interior[starts] = False
    if (deltas[interior] <= 0).any():
        raise ValueError("doc ordinals must be strictly increasing")

    # block starts: list start + j*BLOCK for each of the list's blocks
    counts = ends - starts
    nblocks = (counts + BLOCK - 1) // BLOCK
    first_block = np.zeros(starts.size + 1, dtype=np.int64)
    np.cumsum(nblocks, out=first_block[1:])
    block_list = np.repeat(np.arange(starts.size), nblocks)
    block_lo = starts[block_list] + (np.arange(first_block[-1]) - first_block[block_list]) * BLOCK
    block_hi = np.minimum(block_lo + BLOCK, ends[block_list])

    tfn = tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    bmax = np.maximum.reduceat(tfn, block_lo).tolist()
    last = doc_ords[block_hi - 1].tolist()
    fb = first_block.tolist()

    def split(flat: list) -> list[list]:
        return [flat[lo:hi] for lo, hi in zip(fb[:-1], fb[1:])]

    blobs, offs = {}, {}
    for name, vals in (("doc", deltas), ("tf", tfs), ("dl", dls)):
        blob, nbytes = encode_varint(vals)
        cum = np.zeros(n_total + 1, dtype=np.int64)
        np.cumsum(nbytes, out=cum[1:])
        lo = cum[starts]
        blobs[name] = [blob[a:z] for a, z in zip(lo.tolist(), cum[ends].tolist())]
        offs[name] = split((cum[block_lo] - lo[block_list]).tolist())
    return {
        "n": counts.tolist(),
        "docs_blob": blobs["doc"],
        "tfs_blob": blobs["tf"],
        "dls_blob": blobs["dl"],
        "block_last": split(last),
        "block_max_tfn": split(bmax),
        "doc_offs": offs["doc"],
        "tf_offs": offs["tf"],
        "dl_offs": offs["dl"],
    }


def unpack_lists(
    n: Sequence[int], docs_blob: Sequence[bytes], *value_blobs: Sequence[bytes]
) -> tuple[np.ndarray, ...]:
    """Decode many whole posting lists → concatenated (doc_ords, *values),
    one int64 array per value blob column passed (``tfs_blob``,
    ``dls_blob`` or both, in the order given).

    One varint decode per blob column over the joined blobs, then a
    segmented cumsum restores each list's ordinals from its deltas (the
    first delta of a list is its first ordinal). The cumsum runs in
    uint64, whose wrap-around is exact modulo 2^64, so every list's
    ordinals come out exact however large the running sum gets."""
    counts = np.asarray(n, dtype=np.int64)
    total = int(counts.sum())
    deltas = decode_varint(b"".join(docs_blob), total)
    run = np.cumsum(deltas)
    # minus the running sum before each list, spread over its entries
    first = np.cumsum(counts) - counts
    doc_ords = (run - np.repeat(run[first] - deltas[first], counts)).view(np.int64)
    return (doc_ords,) + tuple(decode_varint(b"".join(col), total).astype(np.int64) for col in value_blobs)


def unpack_block(
    docs_blob: bytes,
    tfs_blob: bytes,
    dls_blob: bytes,
    doc_offs: np.ndarray,
    tf_offs: np.ndarray,
    dl_offs: np.ndarray,
    block_last: np.ndarray,
    n: int,
    i: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode block *i* only (used by WAND after a skip)."""
    nblocks = doc_offs.shape[0]
    lo = i * BLOCK
    hi = min(lo + BLOCK, n)
    cnt = hi - lo
    d_end = doc_offs[i + 1] if i + 1 < nblocks else len(docs_blob)
    t_end = tf_offs[i + 1] if i + 1 < nblocks else len(tfs_blob)
    l_end = dl_offs[i + 1] if i + 1 < nblocks else len(dls_blob)
    deltas = decode_varint(memoryview(docs_blob)[doc_offs[i] : d_end], cnt).astype(np.int64)
    base = 0 if i == 0 else int(block_last[i - 1])
    doc_ords = base + np.cumsum(deltas)
    tfs = decode_varint(memoryview(tfs_blob)[tf_offs[i] : t_end], cnt).astype(np.int64)
    dls = decode_varint(memoryview(dls_blob)[dl_offs[i] : l_end], cnt).astype(np.int64)
    return doc_ords, tfs, dls
