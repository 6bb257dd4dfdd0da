"""Varint / d-gap / positions codec round-trips (FIXTURES.md §5)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from opensearch_spark.index import codec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (codec.varint_decode(codec.varint_encode(arr)) == arr).all()


def test_varint_boundaries():
    # exact powers of 2^7k — the byte-length boundaries
    vals = np.array(
        [0, 1, 127, 128, 2**14 - 1, 2**14, 2**28 - 1, 2**28, 2**35, 2**62],
        dtype=np.uint64,
    )
    out = codec.varint_decode(codec.varint_encode(vals))
    assert (out == vals).all()


def test_byte_lengths_match_encoding():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**50, 5000).astype(np.uint64)
    enc = codec.varint_encode(vals)
    assert len(enc) == int(codec.varint_byte_lengths(vals).sum())


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True
    )
)
@settings(max_examples=100, deadline=None)
def test_docdelta_roundtrip(ids):
    docs = np.array(sorted(ids), dtype=np.int64)
    base = int(docs[0])
    buf = codec.pack_doc_deltas(docs, base)
    assert (codec.unpack_doc_deltas(buf, base) == docs).all()


def test_positions_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(20):
        tfs = rng.integers(1, 8, rng.integers(1, 40))
        pos = np.concatenate(
            [np.sort(rng.choice(500, k, replace=False)) for k in tfs]
        )
        buf = codec.pack_positions(pos, tfs)
        assert (codec.unpack_positions(buf, tfs) == pos).all()


def test_large_deltas_over_2pow28():
    # FIXTURES.md §5: deltas >= 2^28 (10^12-doc address space)
    docs = np.array([0, 2**28, 2**29, 2**40, 2**40 + 1], dtype=np.int64)
    buf = codec.pack_doc_deltas(docs, 0)
    assert (codec.unpack_doc_deltas(buf, 0) == docs).all()


def test_empty():
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0
    assert codec.pack_positions(np.array([]), np.array([])) == b""


def test_encode_blocks_roundtrip():
    rng = np.random.RandomState(9)
    vals = rng.randint(0, 1000, size=1000).astype(np.uint64)
    starts, ends = codec.block_bounds(1000, 128)
    blocks = codec.encode_blocks(vals, starts, ends)
    assert len(blocks) == starts.size
    out = np.concatenate([codec.varint_decode(b) for b in blocks])
    assert np.array_equal(out, vals)


def test_non_varint_plan_rejected_on_open(tmp_path):
    """The engine reads varint postings only: an index whose plan.json
    names another codec fails with a typed error as soon as the plan is
    read (every engine reads it at construction), not at first decode."""
    import json

    import pytest

    from opensearch_spark.index.reader import InvertedIndex

    (tmp_path / "plan.json").write_text(json.dumps({"codec": "for"}))
    with pytest.raises(codec.UnsupportedCodecError, match="'for'"):
        InvertedIndex(None, str(tmp_path)).plan
    (tmp_path / "plan.json").write_text(json.dumps({"codec": "varint"}))
    assert InvertedIndex(None, str(tmp_path)).plan == {"codec": "varint"}
