"""Posting-list codec round-trip + block metadata properties."""

from __future__ import annotations

import numpy as np
import pytest

from solr_spark.index.codec import (
    BLOCK_SIZE,
    POSTINGS_SCHEMA,
    decode_blocks,
    decode_positions,
    decode_postings,
    encode_postings,
    vb_decode,
    vb_encode,
)


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 1000, 4999])
def test_roundtrip(n, encode_one):
    rng = np.random.default_rng(n)
    ords = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 300, size=n).astype(np.int64)
    norms = rng.integers(0, 256, size=n).astype(np.uint8)
    enc = encode_one(ords, tfs, norms)
    o2, t2 = decode_postings(enc.gaps, enc.tfs)
    assert np.array_equal(o2, ords)
    assert np.array_equal(t2, tfs)
    assert enc.df == n
    assert enc.ttf == tfs.sum()


def test_partial_block_decode(encode_one):
    rng = np.random.default_rng(0)
    n = 1500
    ords = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    norms = rng.integers(0, 256, size=n).astype(np.uint8)
    enc = encode_one(ords, tfs, norms)
    nb = enc.block_first_ord.size
    assert nb == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    sel = np.array([0, 3, nb - 1])
    o, t = decode_blocks(
        enc.gaps, enc.tfs, sel, enc.block_first_ord,
        enc.block_gap_off, enc.block_tf_off, enc.df,
    )
    expect_o = np.concatenate(
        [ords[b * BLOCK_SIZE : (b + 1) * BLOCK_SIZE] for b in sel]
    )
    assert np.array_equal(o, expect_o)
    # Block bounds are what they claim.
    for b in range(nb):
        lo, hi = b * BLOCK_SIZE, min((b + 1) * BLOCK_SIZE, n)
        assert enc.block_max_tf[b] == tfs[lo:hi].max()
        assert enc.block_min_norm[b] == norms[lo:hi].min()
        assert enc.block_first_ord[b] == ords[lo]


def test_varbyte_extremes():
    vals = np.array([0, 1, 127, 128, 2**32, 2**62, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(vals)), vals)
    assert vb_encode(np.empty(0, dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0


def test_property_full_codec_roundtrip(encode_one):
    """Hypothesis sweep over the whole encode/decode surface: arbitrary
    posting-list shapes (gap extremes, block-boundary sizes, tf spreads)
    round-trip postings + positions + payloads exactly, and every block's
    impact metadata matches a brute-force recomputation. Complements the
    fixed-seed tests above with generated edge shapes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        gaps=st.lists(
            st.integers(min_value=1, max_value=2**40), min_size=1, max_size=300
        ),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        max_tf=st.integers(min_value=1, max_value=40),
    )
    def check(gaps, seed, max_tf):
        rng = np.random.default_rng(seed)
        ords = np.cumsum(np.asarray(gaps, dtype=np.int64)) - 1
        n = ords.size
        tfs = rng.integers(1, max_tf + 1, size=n).astype(np.int64)
        norms = rng.integers(0, 256, size=n).astype(np.uint8)
        pls = [
            np.sort(rng.choice(10**6, int(t), replace=False)).astype(np.int64)
            for t in tfs
        ]
        flat_pos = np.concatenate(pls)
        pays = rng.standard_normal(flat_pos.size).astype(np.float32)

        enc = encode_one(ords, tfs, norms, positions=flat_pos,
                         payloads=pays)
        o2, t2 = decode_postings(enc.gaps, enc.tfs)
        assert np.array_equal(o2, ords) and np.array_equal(t2, tfs)
        assert enc.df == n and enc.ttf == tfs.sum()

        assert np.array_equal(decode_positions(enc.poss, t2)[0], flat_pos)
        assert np.array_equal(np.frombuffer(enc.pays, np.float32), pays)

        nb = enc.block_first_ord.size
        assert nb == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
        for b in range(nb):
            lo, hi = b * BLOCK_SIZE, min((b + 1) * BLOCK_SIZE, n)
            assert enc.block_max_tf[b] == tfs[lo:hi].max()
            assert enc.block_min_norm[b] == norms[lo:hi].min()
            assert enc.block_first_ord[b] == ords[lo]
        # Every block decodes standalone through its byte offsets.
        sel = np.arange(nb, dtype=np.int64)
        ob, tb = decode_blocks(
            enc.gaps, enc.tfs, sel, enc.block_first_ord,
            enc.block_gap_off, enc.block_tf_off, enc.df,
        )
        assert np.array_equal(ob, ords) and np.array_equal(tb, tfs)

    check()


def test_property_varbyte_roundtrip():
    """Hypothesis sweep of the variable-byte primitive across the full
    uint64 range, including 0, byte-length boundaries, and 2**63+."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        vals=st.lists(
            st.one_of(
                st.integers(min_value=0, max_value=2**64 - 1),
                st.sampled_from(
                    [0, 1, 127, 128, 16383, 16384, 2**32 - 1, 2**32,
                     2**63 - 1, 2**63, 2**64 - 1]
                ),
            ),
            max_size=200,
        )
    )
    def check(vals):
        arr = np.asarray(vals, dtype=np.uint64)
        assert np.array_equal(vb_decode(vb_encode(arr)), arr)

    check()


def test_positions_roundtrip(encode_one):
    rng = np.random.default_rng(7)
    n = 1000
    ords = np.sort(rng.choice(100000, n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, n).astype(np.int64)
    norms = rng.integers(0, 256, n).astype(np.uint8)
    pls = [np.sort(rng.choice(500, int(t), replace=False)).astype(np.int64)
           for t in tfs]
    flat = np.concatenate(pls)
    enc = encode_one(ords, tfs, norms, positions=flat)
    o2, t2 = decode_postings(enc.gaps, enc.tfs)
    f2, starts = decode_positions(enc.poss, t2)
    assert (f2 == flat).all()
    for i in (0, 1, 57, n - 1):
        assert (f2[starts[i]:starts[i] + tfs[i]] == pls[i]).all()


def test_multi_term_partition_roundtrip():
    """One encode_postings call over a partition whose terms straddle the
    block boundaries (df 1, 127, 128, 129, 256, 257), with tf > 1,
    positions and payloads, fed as per-token streams in analysis order
    (doc, then position). Every row decodes whole and block by block, and
    every block's metadata equals a numpy recomputation from the input."""
    rng = np.random.default_rng(11)
    n_docs = 600
    doc_norm = rng.integers(0, 256, n_docs).astype(np.uint8)
    dfs = {"d001": 1, "d127": 127, "d128": 128, "d129": 129, "d256": 256,
           "d257": 257}
    terms = sorted(dfs)
    want, toks = {}, []
    for c, t in enumerate(terms):
        ords = np.sort(rng.choice(n_docs, dfs[t], replace=False))
        tfs = rng.integers(1, 5, ords.size)
        pos = [np.sort(rng.choice(1000, k, replace=False)) for k in tfs]
        pays = [rng.standard_normal(k).astype(np.float32) for k in tfs]
        want[t] = (ords, tfs, np.concatenate(pos), np.concatenate(pays))
        toks += [(o, p, c, y) for o, ps, ys in zip(ords, pos, pays)
                 for p, y in zip(ps, ys)]
    toks.sort(key=lambda x: (x[0], x[1], x[2]))
    o, p, c, y = (np.array(col) for col in zip(*toks))
    table = encode_postings(terms, c, o, doc_norm[o], p,
                            y.astype(np.float32))
    assert table.schema == POSTINGS_SCHEMA
    assert table["term"].to_pylist() == terms

    for r in table.to_pylist():
        ords, tfs, pos, pays = want[r["term"]]
        n = ords.size
        starts = np.arange(0, n, BLOCK_SIZE)
        tstarts = np.cumsum(tfs) - tfs
        assert r["df"] == n and r["ttf"] == tfs.sum()
        o2, t2 = decode_postings(r["gaps"], r["tfs"])
        assert np.array_equal(o2, ords) and np.array_equal(t2, tfs)
        assert r["norms"] == doc_norm[ords].tobytes()
        assert np.array_equal(decode_positions(r["poss"], t2)[0], pos)
        assert np.array_equal(np.frombuffer(r["pays"], np.float32), pays)
        assert r["block_first_ord"] == ords[starts].tolist()
        assert r["block_max_tf"] == np.maximum.reduceat(tfs, starts).tolist()
        assert r["block_min_norm"] == np.minimum.reduceat(
            doc_norm[ords], starts).tolist()
        assert r["block_pay_off"] == (tstarts[starts] * 4).tolist()
        assert r["block_max_pay"] == np.maximum.reduceat(
            pays, tstarts[starts]).tolist()
        for b, lo in enumerate(starts):
            ob, tb = decode_blocks(
                r["gaps"], r["tfs"], np.array([b]),
                np.array(r["block_first_ord"]), np.array(r["block_gap_off"]),
                np.array(r["block_tf_off"]), r["df"],
            )
            assert np.array_equal(ob, ords[lo:lo + BLOCK_SIZE])
            assert np.array_equal(tb, tfs[lo:lo + BLOCK_SIZE])

    # A partition with no tokens (every doc empty or stopwords) is a typed
    # empty table, with or without payloads.
    none = np.empty(0, dtype=np.int64)
    for pay in (None, np.empty(0, dtype=np.float32)):
        empty = encode_postings([], none, none, none.astype(np.uint8), none, pay)
        assert empty.num_rows == 0 and empty.schema == POSTINGS_SCHEMA
