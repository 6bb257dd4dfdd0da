"""Posting-block codec: d-gap + varint packing, numpy-vectorized.

The reference stores postings in 128-doc blocks with delta-encoded docIDs
and FOR/PForDelta compression (Lucene99 postings format, selected via
``server/src/main/java/org/opensearch/index/codec/CodecService.java:71-79``;
SURVEY.md §4.11).  We keep the same layout ideas — fixed-size blocks,
d-gapped docIDs, per-block skip metadata (base_doc / max_tf / min_norm for
block-max pruning) — but encode with LEB128 varints inside Parquet binary
columns; Parquet page compression (zstd/snappy) stacks on top.

All encode/decode paths are numpy-vectorized (loops only over the ≤10
bytes of a varint), so they are fast inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np

BLOCK_SIZE = 128  # docs per posting block, mirrors Lucene's 128-doc blocks

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (1..10) for a uint64 array."""
    v = np.asarray(values).astype(np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= t
    return nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array -> bytes (vectorized)."""
    v = np.asarray(values).astype(np.uint64)
    if v.size == 0:
        return b""
    nbytes = varint_byte_lengths(v)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for k in range(int(nbytes.max())):
        m = nbytes > k
        byte = (v[m] >> np.uint64(7 * k)).astype(np.uint64) & np.uint64(0x7F)
        cont = (nbytes[m] - 1 > k).astype(np.uint8) << 7
        out[offsets[m] + k] = byte.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(lengths.max())):
        m = lengths > k
        vals[m] |= (b[starts[m] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * k
        )
    return vals


def pack_doc_deltas(doc_ids: np.ndarray, base_doc: int) -> bytes:
    """d-gap + varint pack a sorted docID array relative to base_doc."""
    d = np.asarray(doc_ids, dtype=np.int64)
    gaps = np.diff(d, prepend=np.int64(base_doc))
    return varint_encode(gaps.astype(np.uint64))


def unpack_doc_deltas(buf: bytes, base_doc: int) -> np.ndarray:
    """Inverse of pack_doc_deltas -> int64 docID array."""
    gaps = varint_decode(buf).astype(np.int64)
    return np.cumsum(gaps) + np.int64(base_doc)


def pack_positions(positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Pack concatenated per-doc position lists (delta-coded within doc).

    ``positions`` is the concatenation of each doc's sorted positions;
    ``tfs`` gives the per-doc counts (so boundaries are recoverable).
    """
    pos = np.asarray(positions, dtype=np.int64)
    if pos.size == 0:
        return b""
    tfs = np.asarray(tfs, dtype=np.int64)
    deltas = np.diff(pos, prepend=np.int64(0))
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    deltas[starts] = pos[starts]  # restart delta chain at each doc
    return varint_encode(deltas.astype(np.uint64))


def positions_from_deltas(deltas: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Segmented cumsum: per-doc delta runs -> absolute positions."""
    deltas = np.asarray(deltas).astype(np.int64)
    if deltas.size == 0:
        return deltas
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    cs = np.cumsum(deltas)
    base = np.zeros_like(deltas)
    base[starts[1:]] = cs[starts[1:] - 1]
    np.maximum.accumulate(base, out=base)
    return cs - base


def unpack_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of pack_positions -> concatenated absolute positions."""
    return positions_from_deltas(varint_decode(buf), tfs)


def block_bounds(n: int, block_size: int = BLOCK_SIZE) -> Tuple[np.ndarray, np.ndarray]:
    """Start/end offsets of fixed-size blocks covering n postings."""
    starts = np.arange(0, n, block_size, dtype=np.int64)
    ends = np.minimum(starts + block_size, n)
    return starts, ends


def encode_blocks(values: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Varint-encode ``values`` as one stream and slice it into the
    blocks ``[starts[i], ends[i])`` by byte offsets (fully vectorized —
    the build fast path).  Each block decodes with ``varint_decode``."""
    v = np.asarray(values).astype(np.uint64)
    stream = varint_encode(v)
    off = np.concatenate(([0], np.cumsum(varint_byte_lengths(v))))
    return [stream[off[s] : off[e]] for s, e in zip(starts, ends)]


class UnsupportedCodecError(ValueError):
    """An index whose plan.json names a posting codec other than varint
    (the only layout this engine reads)."""


def check_plan(plan: dict) -> dict:
    """Return ``plan`` if its postings are varint-encoded, else raise
    :class:`UnsupportedCodecError`."""
    name = plan.get("codec", "varint")
    if name != "varint":
        raise UnsupportedCodecError(
            f"index postings use codec {name!r}; only 'varint' is supported"
        )
    return plan
