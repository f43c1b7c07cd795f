"""Posting-list pack/unpack with positions and block-max metadata.

Layout per (term, field) posting list (functional analogue of the
reference worddata record, build_worddata /root/reference/src/db_write.c:211-335
and compress_location_positions /root/reference/src/compress.c:484-528):

- ``docs``:  varbyte(delta(doc_ids))                 — docID-delta + varbyte
- ``tfs``:   varbyte(tf per doc)
- ``pos``:   per-doc positions: flag bitmap (1 bit per doc; set = 4-bit
  nibble-packed deltas, the POS_4_BIT analogue), then for each doc
  varbyte(first_pos) followed by either nibble-packed or varbyte deltas.
  Position deltas are ≥1, so a 0 low-nibble is unambiguous padding.
- ``structs``: raw structure bytes, one per position (cf total).
- block-max metadata per BLOCK_SIZE docs: ``block_doc_lo/hi`` (int64),
  ``block_max_tf`` and ``block_min_dl``. The BM25 impact
  ``tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))`` is increasing in tf and
  decreasing in dl, so ``impact(block_max_tf, block_min_dl, avgdl)`` is a
  valid per-block upper bound for ANY avgdl — this keeps shard packing a
  single pass with no global-stats barrier, and is the block-max WAND
  bound (new vs the reference, which scores every posting —
  /root/reference/src/search.c:1766-1813; required by the north rule).

The codec is batched, and the batch functions are its only
implementation: ``pack_posting_lists`` packs N lists given as flat
doc/tf/position/structure/dl arrays plus per-list counts, and
``unpack_posting_lists`` decodes the binary columns of N chunk rows back
to flat arrays plus per-list counts. A list's varbyte stream is the
concatenation of its values' encodings, so a batch is encoded or
decoded in one numpy pass over the concatenated buffers and split at
per-list byte offsets; the per-doc nibble/varbyte choice is made with
array masks. No numpy call is made per list, per doc or per value (the
only per-list Python work is slicing out each list's ``bytes`` and
block lists), so the fixed numpy cost is paid once per batch rather
than once per list (cf. the reference's per-chunk compression,
coalesce_word_locations, reference src/index.c). ``pack_posting_list``
and ``unpack_posting_list`` are batch-of-one calls of the same
functions.
"""

from __future__ import annotations

import numpy as np

from .varbyte import vb_decode, vb_encode_array

BLOCK_SIZE = 128
K1 = 1.2
B = 0.75


def bm25_impact(tfs, doc_lens, avgdl, k1=K1, b=B):
    """Idf-independent BM25 term contribution (vectorized)."""
    tf = np.asarray(tfs, dtype=np.float64)
    dl = np.asarray(doc_lens, dtype=np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / max(avgdl, 1e-9)))


def _offsets(lengths) -> np.ndarray:
    """Exclusive prefix sums with the total appended (len n + 1)."""
    out = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out[1:])
    return out


def _ranges(starts, lengths) -> np.ndarray:
    """Concatenation of ``arange(s, s + l)`` for every (s, l)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    ends = np.cumsum(lengths)
    if not ends.size or not ends[-1]:
        return np.empty(0, dtype=np.int64)
    return (np.repeat(np.asarray(starts, dtype=np.int64) - (ends - lengths),
                      lengths) + np.arange(int(ends[-1])))


def _per_list(owner, weights, n_lists: int) -> np.ndarray:
    """Sum of ``weights`` per list, given each item's list index."""
    return np.bincount(owner, weights=weights,
                       minlength=n_lists).astype(np.int64)


def _split_bytes(buf: np.ndarray, lengths) -> list:
    """One ``bytes`` per list from a concatenated uint8 buffer."""
    raw = buf.tobytes()
    offs = _offsets(lengths).tolist()
    return [raw[a:b] for a, b in zip(offs[:-1], offs[1:])]


def _interleave(sections, n_lists: int):
    """Per-list concatenation of several sections. Each section is
    (uint8 buffer holding every list's part in list order, per-list
    byte lengths); returns (buffer, per-list total lengths)."""
    totals = np.zeros(n_lists, dtype=np.int64)
    for _, lengths in sections:
        totals += lengths
    dest = _offsets(totals)[:-1]
    out = np.empty(int(totals.sum()), dtype=np.uint8)
    for buf, lengths in sections:
        out[_ranges(dest, lengths)] = buf
        dest = dest + lengths
    return out, totals


def _pack_positions(pos: np.ndarray, tfs: np.ndarray, counts: np.ndarray,
                    list_of_doc: np.ndarray, local: np.ndarray):
    """Every list's ``pos_bin`` → (buffer, per-list lengths). Per list:
    flag bitmap (bit set = doc's deltas nibble-packed, the POS_4_BIT
    analogue), varbyte first positions of all docs (A), uint32 length of
    the nibble bytes then the nibble bytes of nibble docs (B), varbyte
    non-first deltas of the other docs with tf > 1 (C)."""
    n_lists = counts.size
    n_docs = tfs.size
    ends = np.cumsum(tfs)
    starts = ends - tfs
    deltas = np.empty(pos.size, dtype=np.int64)
    if pos.size:
        deltas[0] = pos[0]
        np.subtract(pos[1:], pos[:-1], out=deltas[1:])
    deltas[starts] = pos[starts]
    doc_of_pos = np.repeat(np.arange(n_docs), tfs)
    nonfirst = np.ones(pos.size, dtype=bool)
    nonfirst[starts] = False
    # nibble eligibility: docs whose non-first deltas are all in [1,15]
    big = np.zeros(n_docs, dtype=bool)
    big[doc_of_pos[nonfirst & (deltas >= 16)]] = True
    nibble = (~big) & (tfs > 1)

    flag_len = (counts + 7) // 8
    bits = np.zeros(int(flag_len.sum()) * 8, dtype=bool)
    bits[_offsets(flag_len)[list_of_doc] * 8 + local] = nibble
    flags = np.packbits(bits)

    firsts, first_nb = vb_encode_array(pos[starts])

    nib_tf = tfs[nibble] - 1
    nib_nb = (nib_tf + 1) // 2
    nd = deltas[nonfirst & nibble[doc_of_pos]].astype(np.uint8)
    b_starts = _offsets(nib_nb)[:-1]
    d_ends = np.cumsum(nib_tf)
    doc_of_delta = np.repeat(np.arange(nib_tf.size), nib_tf)
    dlocal = np.arange(nd.size) - (d_ends - nib_tf)[doc_of_delta]
    byte_idx = b_starts[doc_of_delta] + dlocal // 2
    hi = (dlocal % 2) == 0
    # high nibble = even-index delta, low nibble = odd-index delta (a
    # padding 0 low nibble for odd counts: deltas are >= 1)
    nib = np.zeros(int(nib_nb.sum()), dtype=np.uint8)
    nib[byte_idx[hi]] = nd[hi] << 4
    nib[byte_idx[~hi]] |= nd[~hi]
    nib_len = _per_list(list_of_doc[nibble], nib_nb, n_lists)
    has = counts > 0
    nib_hdr = nib_len[has].astype("<u4").view(np.uint8)

    vmask = nonfirst & big[doc_of_pos]
    vdeltas, v_nb = vb_encode_array(deltas[vmask])

    return _interleave([
        (flags, flag_len),
        (firsts, _per_list(list_of_doc, first_nb, n_lists)),
        (nib_hdr, 4 * has.astype(np.int64)),
        (nib, nib_len),
        (vdeltas, _per_list(list_of_doc[doc_of_pos[vmask]], v_nb,
                            n_lists)),
    ], n_lists)


def pack_posting_lists(doc_ids, tfs, positions, structures, doc_lens,
                       counts, block_size=BLOCK_SIZE) -> dict:
    """Pack a batch of (term, field) posting lists in one pass.

    The lists lie end to end in the flat inputs: ``counts[i]`` docs
    (each sorted by doc_id), their tfs and doc lengths, Σtf positions
    and (unless ``structures`` is None) Σtf structure bytes. Returns a
    dict of per-list columns (FIXTURES.md §3 `segments` schema): ``df``
    and ``cf`` arrays, one ``bytes`` per list for each binary column,
    and one list per list for each block-max column. Requires no global
    statistics — the block bound is (max tf, min dl) per block, valid
    for any avgdl at query time."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(doc_lens, dtype=np.int64)
    pos = np.ascontiguousarray(positions, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    n_lists = counts.size
    doc_off = _offsets(counts)
    list_of_doc = np.repeat(np.arange(n_lists), counts)
    local = np.arange(ids.size) - doc_off[list_of_doc]
    first = local == 0

    # docID-delta, first doc of each list absolute
    gaps = np.empty(ids.size, dtype=np.int64)
    if ids.size:
        gaps[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    gaps[first] = ids[first]
    cols = {"df": counts, "cf": _per_list(list_of_doc, tfs, n_lists)}
    for name, vals in (("docs_bin", gaps), ("tfs_bin", tfs),
                       ("dls_bin", dls)):
        buf, nb = vb_encode_array(vals)
        cols[name] = _split_bytes(buf, _per_list(list_of_doc, nb, n_lists))
    cols["pos_bin"] = _split_bytes(
        *_pack_positions(pos, tfs, counts, list_of_doc, local))
    cols["structs_bin"] = (
        [b""] * n_lists if structures is None else _split_bytes(
            np.ascontiguousarray(structures, dtype=np.uint8), cols["cf"]))

    # block-max metadata: blocks of block_size docs tile every list, so
    # they tile the flat doc arrays in order and reduceat sees each
    # block as one segment
    nblocks = (counts + block_size - 1) // block_size
    blk_off = _offsets(nblocks)
    blk_list = np.repeat(np.arange(n_lists), nblocks)
    blk_start = (doc_off[blk_list]
                 + (np.arange(blk_off[-1]) - blk_off[blk_list]) * block_size)
    blk_end = np.minimum(blk_start + block_size, doc_off[blk_list + 1])
    blocks = {
        "block_doc_lo": ids[blk_start],
        "block_doc_hi": ids[blk_end - 1],
        "block_max_tf": (np.maximum.reduceat(tfs, blk_start)
                         if blk_start.size else blk_start),
        "block_min_dl": (np.minimum.reduceat(dls, blk_start)
                         if blk_start.size else blk_start),
    }
    bounds = blk_off.tolist()
    for name, arr in blocks.items():
        vals = arr.tolist()
        cols[name] = [vals[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    return cols


def pack_posting_list(doc_ids, tfs, positions, structures, doc_lens,
                      block_size=BLOCK_SIZE):
    """Pack one (term, field) posting list (a batch of one). Inputs
    sorted by doc_id; returns the row dict of ``pack_posting_lists``."""
    cols = pack_posting_lists(doc_ids, tfs, positions, structures,
                              doc_lens, [len(doc_ids)], block_size)
    row = {k: v[0] for k, v in cols.items()}
    row["df"], row["cf"] = int(row["df"]), int(row["cf"])
    return row


def _concat(col):
    """A binary column → (one uint8 buffer, per-row byte offsets)."""
    parts = list(col)
    lens = np.fromiter(map(len, parts), dtype=np.int64, count=len(parts))
    return np.frombuffer(b"".join(parts), dtype=np.uint8), _offsets(lens)


def _vb_counts(buf: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Number of varbyte values in each [offs[i], offs[i+1]) slice."""
    ends = _offsets((buf & 0x80) == 0)
    return ends[offs[1:]] - ends[offs[:-1]]


def _unpack_positions(pos_bins, tfs: np.ndarray,
                      counts: np.ndarray) -> np.ndarray:
    """Inverse of ``_pack_positions`` over a batch → flat positions."""
    buf, poff = _concat(pos_bins)
    n_docs = tfs.size
    if not n_docs:
        return np.empty(0, dtype=np.int64)
    doc_off = _offsets(counts)
    list_of_doc = np.repeat(np.arange(counts.size), counts)
    local = np.arange(n_docs) - doc_off[list_of_doc]
    byte = poff[list_of_doc] + local // 8
    nibble = ((buf[byte] >> (7 - local % 8).astype(np.uint8)) & 1) \
        .astype(bool)

    # section A ends at its list's counts[i]-th varbyte terminator
    has = counts > 0
    a_start = poff[:-1] + (counts + 7) // 8
    last = (buf & 0x80) == 0
    term_idx = np.flatnonzero(last)
    seen = _offsets(last)
    a_end = a_start.copy()
    a_end[has] = term_idx[seen[a_start[has]] + counts[has] - 1] + 1
    nib_len = np.zeros(counts.size, dtype=np.int64)
    hdr = a_end[has]
    nib_len[has] = (buf[hdr].astype(np.int64)
                    | buf[hdr + 1].astype(np.int64) << 8
                    | buf[hdr + 2].astype(np.int64) << 16
                    | buf[hdr + 3].astype(np.int64) << 24)
    n_start = a_end + 4 * has
    v_start = n_start + nib_len
    firsts = vb_decode(buf[_ranges(a_start, a_end - a_start)])
    nib_bytes = buf[_ranges(n_start, nib_len)]
    vdeltas = vb_decode(buf[_ranges(v_start, poff[1:] - v_start)])

    ends = np.cumsum(tfs)
    starts = ends - tfs
    deltas = np.zeros(int(ends[-1]), dtype=np.uint64)
    deltas[starts] = firsts
    nib_tf = tfs[nibble] - 1
    if nib_tf.size:
        b_starts = _offsets((nib_tf + 1) // 2)[:-1]
        d_ends = np.cumsum(nib_tf)
        doc_of_delta = np.repeat(np.arange(nib_tf.size), nib_tf)
        dlocal = np.arange(int(d_ends[-1])) - (d_ends - nib_tf)[doc_of_delta]
        byte_idx = b_starts[doc_of_delta] + dlocal // 2
        vals = np.where((dlocal % 2) == 0, nib_bytes[byte_idx] >> 4,
                        nib_bytes[byte_idx] & 0x0F).astype(np.uint64)
        deltas[starts[nibble][doc_of_delta] + 1 + dlocal] = vals
    vb_docs = (~nibble) & (tfs > 1)
    if vdeltas.size:
        vtf = tfs[vb_docs] - 1
        doc_of = np.repeat(np.arange(vtf.size), vtf)
        vlocal = np.arange(vdeltas.size) - (np.cumsum(vtf) - vtf)[doc_of]
        deltas[starts[vb_docs][doc_of] + 1 + vlocal] = vdeltas
    # per-doc cumsum: global cumsum then subtract previous doc's total
    positions = np.cumsum(deltas, dtype=np.uint64)
    if n_docs > 1:
        carry = positions[ends[:-1] - 1]
        positions[ends[0]:] -= np.repeat(carry, tfs[1:])
    return positions.astype(np.int64)


def unpack_posting_lists(docs_bins, tfs_bins=None, pos_bins=None,
                         structs_bins=None, dls_bins=None, base=None):
    """Decode the binary columns of N chunk rows in one pass →
    (doc_ids, tfs, positions, structures, doc_lens, counts): flat
    arrays with the lists end to end, ``counts[i]`` docs of row i.
    Columns passed as None come back as None (positions need tfs).
    ``base`` (one int per row) is added to the row's doc ids — the
    O(1)-per-chunk rebase of partition-local or per-shard ids."""
    buf, offs = _concat(docs_bins)
    counts = _vb_counts(buf, offs)
    sums = np.cumsum(vb_decode(buf), dtype=np.uint64)
    doc_off = _offsets(counts)
    # per-list delta decode: global running sum minus the sum before
    # each list's first (absolute) doc id
    before = np.zeros(counts.size, dtype=np.uint64)
    nz = doc_off[:-1] > 0
    before[nz] = sums[doc_off[:-1][nz] - 1]
    doc_ids = (sums - np.repeat(before, counts)).astype(np.int64)
    if base is not None:
        doc_ids += np.repeat(np.asarray(base, dtype=np.int64), counts)
    tfs = (None if tfs_bins is None
           else vb_decode(_concat(tfs_bins)[0]).astype(np.int64))
    positions = (None if pos_bins is None
                 else _unpack_positions(pos_bins, tfs, counts))
    structures = (None if structs_bins is None
                  else np.frombuffer(b"".join(structs_bins), dtype=np.uint8))
    dls = (None if dls_bins is None
           else vb_decode(_concat(dls_bins)[0]).astype(np.int64))
    return doc_ids, tfs, positions, structures, dls, counts


def unpack_posting_list(docs_bin, tfs_bin, pos_bin=None, structs_bin=None,
                        dls_bin=None):
    """Inverse of pack_posting_list (a batch of one) →
    (doc_ids, tfs, positions, structures[, doc_lens])."""
    doc_ids, tfs, positions, structures, dls, _ = unpack_posting_lists(
        *[None if b is None else (b,) for b in
          (docs_bin, tfs_bin, pos_bin, structs_bin, dls_bin)])
    if dls_bin is None:
        return doc_ids, tfs, positions, structures
    return doc_ids, tfs, positions, structures, dls
