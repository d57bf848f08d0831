"""Posting-list codec: delta + variable-byte compression with block metadata.

Re-expresses the role of Lucene's Lucene90 postings format (public file-format
docs; the reference selects the codec in
solr/core/src/java/org/apache/solr/core/SchemaCodecFactory.java:94-101):
docIDs are stored as deltas of segment-local ordinals, compressed; the list is
cut into blocks of 128 postings; per-block "impact" metadata (max tf, best
norm) lets a scorer bound the block's best possible BM25 contribution without
decoding it (the basis of block-max WAND). Lucene bit-packs full blocks (FOR)
and varbytes the tail; we varbyte everything — simpler, and the scan cost at
query time is dominated by Arrow/parquet IO, not the decode loop.

Everything is vectorized numpy (no per-posting Python): encode is O(maxbytes)
masked passes, decode likewise.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128


def _vb_encode_with_ends(vals: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte-encode; also return the cumulative END byte offset of each
    value (so callers can compute block offsets without re-encoding)."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nbytes += (rest > 0).astype(np.int64)
        rest >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    work = v.copy()
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        idx = starts[mask] + k
        byte = (work[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = ((k + 1) < nbytes[mask]).astype(np.uint8)
        out[idx] = byte | (cont << 7)
        work >>= np.uint64(7)
    return out.tobytes(), ends


def vb_encode(vals: np.ndarray) -> bytes:
    """Variable-byte encode a non-negative int array (LSB-first, MSB=continue)."""
    return _vb_encode_with_ends(vals)[0]


def vb_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a varbyte buffer back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    nb = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(nb.max())):
        mask = nb > k
        vals[mask] |= (b[starts[mask] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * k
        )
    return vals


@dataclass
class EncodedPostings:
    """One term's compressed posting list + block skip metadata.

    gaps/tfs are varbyte blobs; block_* arrays have one entry per 128-posting
    block and hold exactly what the block-max scorers read: byte offsets
    into the blobs (so a block can be decoded without its predecessors), the
    first ordinal (to rebase the delta cumsum), max tf and min norm byte
    (impact bounds).
    """

    df: int
    ttf: int
    gaps: bytes
    tfs: bytes
    block_first_ord: np.ndarray  # int64, absolute ord of block's first posting
    block_gap_off: np.ndarray  # int64 byte offset into gaps blob
    block_tf_off: np.ndarray  # int64 byte offset into tfs blob
    block_max_tf: np.ndarray  # int32
    block_min_norm: np.ndarray  # uint8 (smaller norm byte == shorter doc)
    # Term positions (Lucene .pos-file role): per posting, tf positions,
    # first absolute then delta-encoded, all varbyte in one blob, decoded
    # whole by the phrase scorer. Empty when the index is built without
    # positions.
    poss: bytes
    # Per-position payloads (Lucene .pay-file role): one float32 per
    # position, position-aligned with the poss blob (fixed width, so a
    # block's payload slice is addressable by byte offset alone); per-block
    # MAX payload is the impact bound a top-k payload scorer prunes with
    # (max/first/average <= block_max_pay; sum <= block_max_tf *
    # block_max_pay). Empty, with zero offsets and maxima, when built
    # without payloads.
    pays: bytes
    block_pay_off: np.ndarray  # int64 byte offset into pays
    block_max_pay: np.ndarray  # float32


def encode_postings(
    ords: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    positions: np.ndarray | None = None,
    payloads: np.ndarray | None = None,
) -> EncodedPostings:
    """Encode one term's postings. ``ords`` must be strictly increasing
    segment-local ordinals; ``norms[i]`` is the norm BYTE of doc ords[i];
    ``positions`` (optional) is the FLAT concatenation of each posting's
    sorted token positions (tfs[i] entries for posting i); ``payloads``
    (optional, requires positions) is the position-aligned FLAT float
    payload array.

    Single vectorized pass: the whole list is encoded once and per-block
    byte offsets are read off the encoder's cumulative ends; block impact
    stats come from maximum/minimum.reduceat. (A per-block Python loop here
    dominated the index build profile at high concurrency.)
    """
    n = ords.size
    ords = np.ascontiguousarray(ords, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = ords[0]
    gaps[1:] = np.diff(ords).astype(np.uint64)

    n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    starts = np.arange(n_blocks, dtype=np.int64) * BLOCK_SIZE
    b_first = ords[::BLOCK_SIZE].copy()

    gap_blob, gap_ends = _vb_encode_with_ends(gaps)
    tf_blob, tf_ends = _vb_encode_with_ends(tfs.astype(np.uint64))
    gap_off = np.zeros(n_blocks, dtype=np.int64)
    tf_off = np.zeros(n_blocks, dtype=np.int64)
    gap_off[1:] = gap_ends[starts[1:] - 1]
    tf_off[1:] = tf_ends[starts[1:] - 1]

    max_tf = np.maximum.reduceat(tfs, starts).astype(np.int32)
    min_norm = np.minimum.reduceat(norms.astype(np.uint8), starts)

    pos_blob = b""
    pay_blob = b""
    pay_off = np.zeros(n_blocks, dtype=np.int64)
    max_pay = np.zeros(n_blocks, dtype=np.float32)
    if positions is not None and positions.size:
        flat = np.ascontiguousarray(positions, dtype=np.int64)
        # Per-posting delta encoding in one vectorized pass: the first
        # position of each posting stays absolute, the rest become gaps.
        pstarts = np.zeros(n, dtype=np.int64)
        pstarts[1:] = np.cumsum(tfs)[:-1]
        pgaps = np.empty(flat.size, dtype=np.int64)
        pgaps[0] = flat[0]
        pgaps[1:] = flat[1:] - flat[:-1]
        pgaps[pstarts] = flat[pstarts]
        pos_blob = vb_encode(pgaps)
        if payloads is not None:
            pay = np.ascontiguousarray(payloads, dtype=np.float32)
            if pay.size != flat.size:
                raise ValueError(
                    f"payloads ({pay.size}) must align 1:1 with positions "
                    f"({flat.size})"
                )
            pay_blob = pay.tobytes()
            # Fixed 4-byte width: a block's payload slice starts at 4x its
            # first flat-position index.
            pay_off[1:] = pstarts[starts[1:]] * 4
            max_pay = np.maximum.reduceat(pay, pstarts[starts]).astype(
                np.float32
            )

    return EncodedPostings(
        df=n,
        ttf=int(tfs.sum()),
        gaps=gap_blob,
        tfs=tf_blob,
        block_first_ord=b_first,
        block_gap_off=gap_off,
        block_tf_off=tf_off,
        block_max_tf=max_tf,
        block_min_norm=min_norm,
        poss=pos_blob,
        pays=pay_blob,
        block_pay_off=pay_off,
        block_max_pay=max_pay,
    )


def decode_postings(
    gaps: bytes, tfs: bytes
) -> tuple[np.ndarray, np.ndarray]:
    """Full decode: returns (ords int64, tfs int64)."""
    g = vb_decode(gaps)
    t = vb_decode(tfs)
    return np.cumsum(g.astype(np.int64)), t.astype(np.int64)


def decode_positions(poss: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Full decode of a positions blob. Returns (flat, starts): posting i's
    absolute positions are ``flat[starts[i] : starts[i] + tfs[i]]``.

    Vectorized segment-cumsum: one global cumsum over the decoded gaps, then
    a per-posting rebase (subtract the running total at each posting
    boundary) via np.repeat — no per-posting Python loop.
    """
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    starts = np.zeros(tfs.size, dtype=np.int64)
    if tfs.size:
        starts[1:] = np.cumsum(tfs)[:-1]
    gaps = vb_decode(poss).astype(np.int64)
    if gaps.size == 0:
        return gaps, starts
    cs = np.cumsum(gaps)
    rebase = np.repeat(
        np.concatenate([[0], cs[starts[1:] - 1]]) if tfs.size > 1 else [0], tfs
    )
    return cs - rebase, starts


def decode_payloads(pays: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Full decode of a payloads blob (position-aligned float32). Returns
    (flat float32, starts): posting i's payloads are
    ``flat[starts[i] : starts[i] + tfs[i]]``. Zero-copy: the blob IS the
    array."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    starts = np.zeros(tfs.size, dtype=np.int64)
    if tfs.size:
        starts[1:] = np.cumsum(tfs)[:-1]
    return np.frombuffer(pays, dtype=np.float32), starts


def decode_blocks(
    enc_gaps: bytes,
    enc_tfs: bytes,
    block_idx: np.ndarray,
    block_first_ord: np.ndarray,
    block_gap_off: np.ndarray,
    block_tf_off: np.ndarray,
    df: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the selected blocks (sorted indices). Returns (ords, tfs).

    This is the WAND payoff: non-competitive blocks are never decoded.
    """
    if block_idx.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    n_blocks = block_first_ord.size
    g = np.frombuffer(enc_gaps, dtype=np.uint8)
    t = np.frombuffer(enc_tfs, dtype=np.uint8)
    gap_end = np.append(block_gap_off[1:], len(g))
    tf_end = np.append(block_tf_off[1:], len(t))
    ords_out, tfs_out = [], []
    for bi in block_idx:
        bi = int(bi)
        gaps = vb_decode(g[block_gap_off[bi] : gap_end[bi]]).astype(np.int64)
        # First gap in a block is relative to the previous posting; rebase so
        # the cumsum starts at the block's absolute first ord.
        gaps[0] = block_first_ord[bi]
        ords_out.append(np.cumsum(gaps))
        tfs_out.append(vb_decode(t[block_tf_off[bi] : tf_end[bi]]).astype(np.int64))
    return np.concatenate(ords_out), np.concatenate(tfs_out)
