"""Segment format and posting-list codec: delta + variable-byte compression
with block metadata.

Re-expresses the role of Lucene's Lucene90 postings format (public file-format
docs; the reference selects the codec in
solr/core/src/java/org/apache/solr/core/SchemaCodecFactory.java:94-101):
docIDs are stored as deltas of segment-local ordinals, compressed; the list is
cut into blocks of 128 postings; per-block "impact" metadata (max tf, best
norm) lets a scorer bound the block's best possible BM25 contribution without
decoding it (the basis of block-max WAND). Lucene bit-packs full blocks (FOR)
and varbytes the tail; we varbyte everything — simpler, and the scan cost at
query time is dominated by Arrow/parquet IO, not the decode loop.

This module owns the segment files' format: ``POSTINGS_SCHEMA`` (one row
per term) and ``DOCS_SCHEMA`` (one row per doc), which segments.py writes
exactly as declared, and the blob layouts inside them. As Lucene's
flush and merge stream every term through one codec consumer,
``encode_postings`` encodes every term of a segment in one vectorized pass
over flat per-token streams, straight into an Arrow table. Everything is
vectorized numpy (no per-term or per-posting Python): encode is
O(maxbytes) masked passes over the whole segment, decode likewise per blob.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

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


POSTINGS_SCHEMA = pa.schema([
    ("term", pa.string()),
    ("df", pa.int64()),
    ("ttf", pa.int64()),
    # Varbyte, one value per posting: doc-ord gaps (the first absolute), tfs.
    ("gaps", pa.binary()),
    ("tfs", pa.binary()),
    # One norm byte per posting, like Lucene's impacts: scoring never reads
    # the doc table.
    ("norms", pa.binary()),
    # Per 128-posting block: first ord and byte offsets into gaps/tfs (a
    # block decodes alone), max tf and min norm byte (its BM25 bound).
    ("block_first_ord", pa.list_(pa.int64())),
    ("block_gap_off", pa.list_(pa.int64())),
    ("block_tf_off", pa.list_(pa.int64())),
    ("block_max_tf", pa.list_(pa.int64())),
    ("block_min_norm", pa.list_(pa.int64())),
    # Positions (.pos role): per posting, the first absolute, then gaps.
    ("poss", pa.binary()),
    # Payloads (.pay role): one float32 per position; per block, its byte
    # offset and max payload, the payload scorer's bound (max/first/average
    # <= it; sum <= max tf times it). Empty and zeros without payloads.
    ("pays", pa.binary()),
    ("block_pay_off", pa.list_(pa.int64())),
    ("block_max_pay", pa.list_(pa.float64())),
])
DOCS_SCHEMA = pa.schema([
    ("ord", pa.int64()),
    ("docid", pa.int64()),
    ("dl", pa.int64()),
    ("norm", pa.int32()),
])


def _binary(blob: bytes, offsets: np.ndarray) -> pa.Array:
    """One binary value per row: row i is ``blob[offsets[i]:offsets[i+1]]``."""
    if len(blob) >= 2**31:  # pa.binary() offsets are int32
        raise ValueError(f"{len(blob)}-byte postings column: use more partitions")
    return pa.Array.from_buffers(
        pa.binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(blob)],
    )


def _lists(values: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """One list per row: row i is ``values[offsets[i]:offsets[i+1]]``."""
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


def encode_postings(
    terms,
    code: np.ndarray,
    ords: np.ndarray,
    norms: np.ndarray,
    positions: np.ndarray,
    payloads: np.ndarray | None = None,
) -> pa.Table:
    """Encode every term of a segment at once, from flat per-token streams:
    token i is term ``terms[code[i]]`` (``terms`` sorted) at
    ``positions[i]`` of doc ``ords[i]``, whose norm byte is ``norms[i]``,
    with payload ``payloads[i]`` (optional). Returns the POSTINGS_SCHEMA
    table, one row per term in ``terms`` order.

    Each (term, ord)'s tokens must come in position order: one stable sort
    on (term, ord) keeps it, and each run of equal (term, ord) is one
    posting with tf = the run length. Then one varbyte pass each over all
    doc gaps, tfs and position gaps — a term's first gap and a posting's
    first position stay absolute — and every per-term blob and per-block
    byte offset is read off the encoder's cumulative ends; block impact
    stats come from maximum/minimum.reduceat over the block starts. A
    stream without payloads writes empty ``pays`` and zero payload offsets
    and maxima.
    """
    if payloads is not None and payloads.size != positions.size:
        raise ValueError(
            f"payloads ({payloads.size}) must align 1:1 with positions "
            f"({positions.size})"
        )
    order = np.lexsort((ords, code))
    code, ords = code[order], np.asarray(ords, dtype=np.int64)[order]
    new = np.ones(code.size, dtype=bool)
    new[1:] = (code[1:] != code[:-1]) | (ords[1:] != ords[:-1])
    tok = np.append(np.flatnonzero(new), code.size)  # token offset per posting
    p_ord, tfs = ords[tok[:-1]], np.diff(tok)
    norm = np.asarray(norms, dtype=np.uint8)[order][tok[:-1]]
    # Per term, its posting offsets; per block, its posting offset and term.
    post = np.searchsorted(code[tok[:-1]], np.arange(len(terms) + 1))
    df = np.diff(post)
    n_blocks = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
    blk = np.zeros(len(terms) + 1, dtype=np.int64)
    np.cumsum(n_blocks, out=blk[1:])
    b_term = np.repeat(np.arange(len(terms)), n_blocks)
    b_post = post[b_term] + (np.arange(blk[-1]) - blk[b_term]) * BLOCK_SIZE

    gaps = p_ord.copy()
    gaps[1:] -= p_ord[:-1]
    gaps[post[:-1]] = p_ord[post[:-1]]
    gap_blob, gap_ends = _vb_encode_with_ends(gaps)
    tf_blob, tf_ends = _vb_encode_with_ends(tfs)
    gap_ends = np.append(0, gap_ends)  # byte offset where posting i's gap starts
    tf_ends = np.append(0, tf_ends)

    pos = np.asarray(positions, dtype=np.int64)[order]
    pgaps = pos.copy()
    pgaps[1:] -= pos[:-1]
    pgaps[tok[:-1]] = pos[tok[:-1]]
    pos_blob, pos_ends = _vb_encode_with_ends(pgaps)
    pos_ends = np.append(0, pos_ends)

    t_tok = tok[post]  # token offset per term
    b_tok = tok[b_post] - t_tok[b_term]  # token offset of a block in its term
    if payloads is None:
        pays = _binary(b"", np.zeros(len(terms) + 1, dtype=np.int64))
        b_pay_off = np.zeros(blk[-1], dtype=np.int64)
        b_max_pay = np.zeros(blk[-1], dtype=np.float64)
    else:
        pay = np.asarray(payloads, dtype=np.float32)[order]
        # Fixed 4-byte width: a slice starts at 4x its first token offset.
        pays = _binary(pay.tobytes(), t_tok * 4)
        b_pay_off = b_tok * 4
        b_max_pay = np.maximum.reduceat(pay, tok[b_post]).astype(np.float64)

    return pa.Table.from_arrays(
        [
            pa.array(terms, pa.string()),
            pa.array(df),
            pa.array(np.diff(t_tok)),
            _binary(gap_blob, gap_ends[post]),
            _binary(tf_blob, tf_ends[post]),
            _binary(norm.tobytes(), post),
            _lists(p_ord[b_post], blk),
            _lists(gap_ends[b_post] - gap_ends[post[b_term]], blk),
            _lists(tf_ends[b_post] - tf_ends[post[b_term]], blk),
            _lists(np.maximum.reduceat(tfs, b_post), blk),
            _lists(np.minimum.reduceat(norm, b_post).astype(np.int64), blk),
            _binary(pos_blob, pos_ends[t_tok]),
            pays,
            _lists(b_pay_off, blk),
            _lists(b_max_pay, blk),
        ],
        schema=POSTINGS_SCHEMA,
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
