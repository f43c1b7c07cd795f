"""Codec round-trip tests: varbyte, delta, nibble-packed positions,
block-max metadata (spec: SURVEY.md §1.4,
/root/reference/src/compress.c:141-528 functional semantics)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from swish_e_spark.codec.postings import (
    BLOCK_SIZE, bm25_impact, pack_posting_list, pack_posting_lists,
    unpack_posting_list, unpack_posting_lists,
)
from swish_e_spark.codec.varbyte import (
    delta_decode, delta_encode, vb_decode, vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=500))
@settings(max_examples=100, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (vb_decode(vb_encode(arr)) == arr).all()


@given(st.lists(st.integers(min_value=0, max_value=2**40),
                min_size=1, max_size=500, unique=True))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(vals):
    arr = np.sort(np.array(vals, dtype=np.uint64))
    assert (delta_decode(delta_encode(arr)) == arr).all()


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_posting_list_roundtrip(data):
    n = data.draw(st.integers(min_value=1, max_value=300))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 25, size=n).astype(np.int64)
    spread = data.draw(st.sampled_from([5, 12, 200]))  # nibble vs varbyte mix
    positions = np.concatenate([
        np.cumsum(rng.integers(1, spread, size=tf)) for tf in tfs
    ])
    structures = rng.integers(0, 256, size=int(tfs.sum())).astype(np.uint8)
    doc_lens = rng.integers(10, 500, size=n)
    packed = pack_posting_list(doc_ids, tfs, positions, structures,
                               doc_lens)
    d, t, p, s = unpack_posting_list(packed["docs_bin"], packed["tfs_bin"],
                                     packed["pos_bin"], packed["structs_bin"])
    assert (d == doc_ids).all()
    assert (t == tfs).all()
    assert (p == positions).all()
    assert (s == structures).all()


def test_block_max_is_upper_bound():
    rng = np.random.default_rng(7)
    n = 1000
    doc_ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 30, size=n).astype(np.int64)
    positions = np.concatenate([np.arange(1, tf + 1) for tf in tfs])
    doc_lens = rng.integers(20, 400, size=n)
    packed = pack_posting_list(doc_ids, tfs, positions, None, doc_lens)
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(packed["block_max_tf"]) == nblocks
    for avgdl in (50.0, 100.0, 300.0):
        impacts = bm25_impact(tfs, doc_lens, avgdl)
        for b in range(nblocks):
            sl = slice(b * BLOCK_SIZE, (b + 1) * BLOCK_SIZE)
            ub = bm25_impact([packed["block_max_tf"][b]],
                             [packed["block_min_dl"][b]], avgdl)[0]
            assert ub >= impacts[sl].max() - 1e-9
            assert packed["block_doc_lo"][b] == doc_ids[sl][0]
            assert packed["block_doc_hi"][b] == doc_ids[sl][-1]


def test_compression_is_compact():
    # doc-delta varbyte of dense ids should be ~1 byte/doc
    doc_ids = np.arange(0, 100000, 3, dtype=np.int64)
    tfs = np.ones(doc_ids.size, dtype=np.int64)
    positions = np.ones(doc_ids.size, dtype=np.int64)
    packed = pack_posting_list(doc_ids, tfs, positions, None,
                               np.full(doc_ids.size, 100))
    assert len(packed["docs_bin"]) < doc_ids.size * 1.2


# --------------------------------------------------------------------
# The format's scalar reference: one value, one doc at a time. The
# batch codec must produce (and read back) exactly these bytes.
# --------------------------------------------------------------------

def _vb_encode_scalar(vals) -> bytes:
    out = bytearray()
    for v in vals:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def _vb_decode_scalar(buf) -> list:
    out = []
    v = 0
    shift = 0
    for byte in buf:
        v |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            out.append(v)
            v = 0
            shift = 0
    return out


def ref_pack(doc_ids, tfs, positions, structures, doc_lens,
             block_size=BLOCK_SIZE):
    """Scalar pack of one non-empty list: docID deltas, tfs and dls as
    varbyte; positions as flag bitmap + varbyte firsts + uint32 nibble
    length + nibble bytes + varbyte deltas of the other docs."""
    n = len(doc_ids)
    doc_ids = [int(d) for d in doc_ids]
    tfs = [int(t) for t in tfs]
    dls = [int(d) for d in doc_lens]
    pos = [int(p) for p in positions]
    deltas = [doc_ids[0]] + [doc_ids[i] - doc_ids[i - 1]
                             for i in range(1, n)]
    nibble, firsts, nib, vb_deltas = [], [], bytearray(), []
    off = 0
    for tf in tfs:
        p = pos[off:off + tf]
        off += tf
        firsts.append(p[0])
        pd_ = [p[j] - p[j - 1] for j in range(1, tf)]
        if tf > 1 and all(d < 16 for d in pd_):
            nibble.append(True)
            for j in range(0, len(pd_) - 1, 2):
                nib.append((pd_[j] << 4) | pd_[j + 1])
            if len(pd_) % 2:
                nib.append(pd_[-1] << 4)
        else:
            nibble.append(False)
            vb_deltas.extend(pd_)
    flags = bytearray((n + 7) // 8)
    for i, fl in enumerate(nibble):
        if fl:
            flags[i >> 3] |= 0x80 >> (i & 7)
    nblocks = (n + block_size - 1) // block_size
    return {
        "df": n, "cf": sum(tfs),
        "docs_bin": _vb_encode_scalar(deltas),
        "tfs_bin": _vb_encode_scalar(tfs),
        "dls_bin": _vb_encode_scalar(dls),
        "pos_bin": (bytes(flags) + _vb_encode_scalar(firsts)
                    + len(nib).to_bytes(4, "little") + bytes(nib)
                    + _vb_encode_scalar(vb_deltas)),
        "structs_bin": (b"" if structures is None else bytes(
            bytearray(int(s) for s in structures))),
        "block_doc_lo": [doc_ids[b * block_size] for b in range(nblocks)],
        "block_doc_hi": [doc_ids[min((b + 1) * block_size, n) - 1]
                         for b in range(nblocks)],
        "block_max_tf": [max(tfs[b * block_size:(b + 1) * block_size])
                         for b in range(nblocks)],
        "block_min_dl": [min(dls[b * block_size:(b + 1) * block_size])
                         for b in range(nblocks)],
    }


def ref_unpack(docs_bin, tfs_bin, pos_bin, dls_bin):
    """Scalar decode of one list → (doc_ids, tfs, positions, dls)."""
    doc_ids, acc = [], 0
    for d in _vb_decode_scalar(docs_bin):
        acc += d
        doc_ids.append(acc)
    tfs = _vb_decode_scalar(tfs_bin)
    n = len(tfs)
    nflag = (n + 7) // 8
    flags, rest = pos_bin[:nflag], pos_bin[nflag:]
    firsts = _vb_decode_scalar(rest)[:n]
    cnt = off = 0
    for i, byte in enumerate(rest):
        if not byte & 0x80:
            cnt += 1
            if cnt == n:
                off = i + 1
                break
    nib_len = int.from_bytes(rest[off:off + 4], "little")
    nib = rest[off + 4:off + 4 + nib_len]
    vb_rest = _vb_decode_scalar(rest[off + 4 + nib_len:])
    positions, ni, vi = [], 0, 0
    for i, tf in enumerate(tfs):
        p = [firsts[i]]
        if flags[i >> 3] & (0x80 >> (i & 7)):
            nd = []
            for b in nib[ni:ni + tf // 2]:
                nd += [b >> 4, b & 0x0F]
            ni += tf // 2
            steps = nd[:tf - 1]
        else:
            steps = vb_rest[vi:vi + tf - 1]
            vi += tf - 1
        for d in steps:
            p.append(p[-1] + d)
        positions.extend(p)
    return doc_ids, tfs, positions, _vb_decode_scalar(dls_bin)


# position-delta regimes: all nibble-packed, all varbyte (≥ 16, up to
# multi-byte values ≥ 2^21), or a mix within one list
_DELTAS = {"nibble": (1, 16), "varbyte": (16, 2**23), "mixed": (1, 40)}


def _make_list(rng, n, tf_one, deltas, big_ids):
    gap_hi = 2**22 if big_ids else 50
    doc_ids = np.cumsum(rng.integers(1, gap_hi, size=n)) \
        + (2**21 if big_ids else 0)
    tfs = (np.ones(n, dtype=np.int64) if tf_one
           else rng.integers(1, 12, size=n))
    lo, hi = _DELTAS[deltas]
    positions = np.concatenate([np.cumsum(rng.integers(lo, hi, size=tf))
                                for tf in tfs])
    doc_lens = rng.integers(1, 2**22 if big_ids else 500, size=n)
    structures = rng.integers(0, 256, size=int(tfs.sum()))
    return (doc_ids.astype(np.int64), tfs.astype(np.int64),
            positions.astype(np.int64), structures.astype(np.uint8),
            doc_lens.astype(np.int64))


def _batch(lists, with_structs=True):
    """Flat inputs + counts of a batch of lists (end to end)."""
    if not lists:
        return ([], [], [], [] if with_structs else None, [], [])
    flat = [np.concatenate([lst[k] for lst in lists]) for k in range(5)]
    if not with_structs:
        flat[3] = None
    return (*flat, [len(lst[0]) for lst in lists])


def _assert_batch_matches_reference(lists, with_structs):
    cols = pack_posting_lists(*_batch(lists, with_structs))
    assert all(len(v) == len(lists) for v in cols.values())
    for i, lst in enumerate(lists):
        structs = lst[3] if with_structs else None
        ref = ref_pack(lst[0], lst[1], lst[2], structs, lst[4])
        one = pack_posting_list(lst[0], lst[1], lst[2], structs, lst[4])
        got = {k: v[i] for k, v in cols.items()}
        got["df"], got["cf"] = int(got["df"]), int(got["cf"])
        assert got == ref
        assert one == ref


_SIZES = st.one_of(st.sampled_from([1, 127, 128, 129, 257]),
                   st.integers(min_value=1, max_value=300))


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_pack_lists_bytes_equal_reference(data):
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    tf_one = data.draw(st.booleans())
    lists = [_make_list(rng, data.draw(_SIZES), tf_one,
                        data.draw(st.sampled_from(sorted(_DELTAS))),
                        data.draw(st.booleans()))
             for _ in range(data.draw(st.integers(0, 6)))]
    _assert_batch_matches_reference(lists, data.draw(st.booleans()))


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_unpack_lists_equals_per_list_decode(data):
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    lists = [_make_list(rng, data.draw(_SIZES), data.draw(st.booleans()),
                        data.draw(st.sampled_from(sorted(_DELTAS))),
                        data.draw(st.booleans()))
             for _ in range(data.draw(st.integers(0, 6)))]
    cols = pack_posting_lists(*_batch(lists))
    bins = [cols[c] for c in ("docs_bin", "tfs_bin", "pos_bin",
                              "structs_bin", "dls_bin")]
    base = rng.integers(0, 2**30, size=len(lists))
    d, t, p, s, dl, counts = unpack_posting_lists(*bins, base=base)
    assert counts.tolist() == [len(lst[0]) for lst in lists]
    per = [unpack_posting_list(*row) for row in zip(*bins)]
    for k, got in enumerate((d, t, p, s, dl)):
        want = [x[k] + base[i] if k == 0 else x[k]
                for i, x in enumerate(per)]
        assert np.array_equal(
            got, np.concatenate(want) if want else np.empty(0))
    flat = _batch(lists)
    for k in range(5):
        want = np.asarray(flat[k])
        if k == 0 and lists:
            want = want + np.repeat(base, counts)
        assert np.array_equal((d, t, p, s, dl)[k], want)
    for row, lst in zip(zip(*bins), lists):
        ref = ref_unpack(row[0], row[1], row[2], row[4])
        for a, b in zip(ref, (lst[0], lst[1], lst[2], lst[4])):
            assert a == b.tolist()


@pytest.mark.parametrize("case", [
    "empty", "df1_tf1", "nibble", "varbyte", "mixed", "multibyte",
    "block_edges", "no_structs"])
def test_pack_lists_edge_batches(case):
    rng = np.random.default_rng(11)
    lists = {
        "empty": [],
        "df1_tf1": [_make_list(rng, 1, True, "nibble", False)
                    for _ in range(5)],
        "nibble": [_make_list(rng, n, False, "nibble", False)
                   for n in (1, 3, 40)],
        "varbyte": [_make_list(rng, n, False, "varbyte", False)
                    for n in (1, 3, 40)],
        "mixed": [_make_list(rng, 60, False, d, False)
                  for d in ("nibble", "varbyte", "mixed", "nibble")],
        "multibyte": [_make_list(rng, n, False, "varbyte", True)
                      for n in (1, 2, 130)],
        "block_edges": [_make_list(rng, n, False, "mixed", False)
                        for n in (127, 128, 129, 257)],
        "no_structs": [_make_list(rng, n, False, "mixed", False)
                       for n in (1, 129)],
    }[case]
    _assert_batch_matches_reference(lists, case != "no_structs")
    cols = pack_posting_lists(*_batch(lists, case != "no_structs"))
    if case == "multibyte":  # a first doc id ≥ 2^21 takes 4 bytes
        assert all(b[:4][-1] < 0x80 and len(b) >= 4
                   and all(x & 0x80 for x in b[:3])
                   for b in cols["docs_bin"])
    d, t, p, s, dl, counts = unpack_posting_lists(
        cols["docs_bin"], cols["tfs_bin"], cols["pos_bin"],
        cols["structs_bin"], cols["dls_bin"])
    flat = _batch(lists, case != "no_structs")
    assert counts.tolist() == list(flat[5])
    for got, want in zip((d, t, p, dl), (flat[0], flat[1], flat[2],
                                         flat[4])):
        assert np.array_equal(got, np.asarray(want, dtype=np.int64))
