"""Swish-e-compatible ranking — schemes 0 and 1 (SURVEY.md §2.7).

Scheme 0, structure-weighted TF (getrankDEF,
/root/reference/src/rank.c:358-497):
  1. per-posting weight = structure_map[structure]; structure_map = 1 +
     TITLE +7, HEADER +5, META +3, COMMENTS +1, EMPHASIZED +0
     (build_struct_map /root/reference/src/rank.c:274-293, constants
     /root/reference/src/config.h:329-333),
  2. rank = 1 + sum of weights over the first min(tf, 100) postings
     (/root/reference/src/rank.c:413-426), clamped >= 1,
  3. log-scaled: round(ln(rank) * 10000) (scale_word_score,
     /root/reference/src/rank.c:773-785),
  4. divided by log10(words_in_doc): rank = rank*100 // reduction with
     reduction = round(log10(dl) * 100) (/root/reference/src/rank.c:475-494).

Scheme 1, IDF/density (getrankIDF, /root/reference/src/rank.c:524-771):
  - idf = max(1, int(ln(N // df) * 1000))   (integer division inside the
    log as in /root/reference/src/rank.c:609-619),
  - density = max(1, ((avg_words*1000) // dl) * tf) with
    avg_words = total_positions // N (/root/reference/src/rank.c:638-700),
  - word_weight = density * idf // 100,
  - rank = 1 + sum over the first tf postings of
    word_weight * structure_map[s_i] (/root/reference/src/rank.c:713-726),
    clamped >= 1, then scale_word_score.

Combination across operators (/root/reference/src/search.c):
  AND / NEAR: running average weighted by andLevel —
    new = (r1*level + r2) // (level+1) (src/search.c:1209-1272, 2249-2321)
  OR:     r1 + r2                     (src/search.c:2335-2434)
  NOT:    complement docs rank 1000   (src/search.c:2514-2553)
  AND-NOT: keep left rank             (src/search.c:2804-2852)
  PHRASE: pairwise mean (r1+r2)//2    (src/search.c:2561-2637)

Display scaling: scale = 1000/bigrank, shown = clamp(rank*scale, 1,
1000), >=999 -> 1000 (/root/reference/src/result_sort.c:454-482).

Divergence note: the reference quantizes ln/log10 through 1000-entry
integer lookup tables (/root/reference/src/rank.c:37-244); this module
computes the same quantities with float log + round. The committed
pure-Python oracle below is the normative scorer for rank-identity
tests; the Spark engine calls the very same scalar functions.

Spark-side evaluator: ``spark_swish_search`` runs the batch pipeline
every engine query runs (query/batch.py ``evaluate``: one partition-
pruned scan, one decode with structure bytes, df per leaf, presence
rows for unary NOT, the property-limit semi-join, one doc_id shuffle
and the per-partition kernel) under ``SwishRank``. The ranking enters
at two points only: each row's leaf rank (``scheme0_rank`` /
``scheme1_rank``) and the AND/NEAR and phrase combination rules above;
OR/prefix sums, AND-NOT, NOT = 1000 and the posdata rules are the
kernel's, shared with BM25.
"""

from __future__ import annotations

import math

import numpy as np

from ..textproc.extractor import (
    IN_COMMENTS,
    IN_EMPHASIZED,
    IN_HEADER,
    IN_META,
    IN_TITLE,
)
from .parser import (
    And, AndNot, Near, Not, Or, Pattern, Phrase, Prefix, QueryError,
    Term, parse_query,
)


def _check_scheme1_twc(scheme, ignore_total_word_count):
    """RankScheme 1 requires stored word counts: the reference CLI
    refuses -R 1 on an index with IgnoreTotalWordCountWhenRanking 1
    (rank.c getrankIDF guard; pinned by tests/test_refbin.py against
    the compiled binary's error output)."""
    if scheme == 1 and ignore_total_word_count:
        raise QueryError("IgnoreTotalWordCountWhenRanking must be 0 "
                         "to use IDF ranking")


def _leaf_matcher(node):
    """Prefix/Pattern → predicate over (field, term)."""
    if isinstance(node, Prefix):
        return lambda f, t: f == node.field and t.startswith(node.prefix)
    import re as _re

    rx = _re.compile(node.regex())
    return lambda f, t: f == node.field and rx.fullmatch(t) is not None

# structure bonus constants (/root/reference/src/config.h:329-333)
RANK_TITLE = 7
RANK_HEADER = 5
RANK_META = 3
RANK_COMMENTS = 1
RANK_EMPHASIZED = 0

FREQ_CAP = 100  # scheme-0 tf cap (/root/reference/src/rank.c:413-426)


def _build_struct_map() -> np.ndarray:
    """256-entry structure byte -> weight map
    (build_struct_map, /root/reference/src/rank.c:274-293)."""
    m = np.ones(256, dtype=np.int64)
    for s in range(256):
        w = 1
        if s & IN_TITLE:
            w += RANK_TITLE
        if s & IN_HEADER:
            w += RANK_HEADER
        if s & IN_META:
            w += RANK_META
        if s & IN_COMMENTS:
            w += RANK_COMMENTS
        if s & IN_EMPHASIZED:
            w += RANK_EMPHASIZED
        m[s] = w
    return m


STRUCT_MAP = _build_struct_map()


def scale_word_score(rank: int) -> int:
    """round(ln(rank)*10000) — the reference's swish_log[] table for
    rank<=1000 and floor(log(rank)*10000 + 0.5) beyond; both are
    round-to-nearest of the same quantity, so one expression covers the
    whole range (scale_word_score /root/reference/src/rank.c:773-785,
    table /root/reference/src/rank.c:36-139). scale(1) == 0, as in the
    table."""
    return int(math.floor(math.log(max(rank, 1)) * 10000 + 0.5))


def _scheme0_reduction(words: int) -> int:
    """The log10(total-words) reduction, stepped exactly as the
    reference (/root/reference/src/rank.c:475-494): <=10 words ->
    10000; 10<words<=1000 -> swish_log10[words] (round-to-nearest of
    10000*log10); 1000<words<100000 -> 10000*round(log10(words));
    >=100000 -> 50000."""
    if words <= 10:
        return 10000
    if words > 1000:
        if words >= 100000:
            return 50000
        return int(10000 * math.floor(math.log10(float(words)) + 0.5))
    return int(math.floor(math.log10(words) * 10000 + 0.5))


def scheme0_rank(structs: bytes, dl: int,
                 ignore_total_word_count: bool = True,
                 bias: int = 0) -> int:
    """Structure-weighted TF rank for one (doc, term)
    (getrankDEF, /root/reference/src/rank.c:358-497). ``bias`` is the
    metaname's rank_bias in [-10, 10], added per position inside the
    capped loop (/root/reference/src/rank.c:394,418-426).
    IgnoreTotalWordCountWhenRanking defaults ON (the reference default,
    /root/reference/src/list.c:188): rank//100, no length reduction
    (/root/reference/src/rank.c:469-470); OFF applies the stepped
    log10(doc length) reduction (/root/reference/src/rank.c:475-494)."""
    arr = np.frombuffer(structs[:FREQ_CAP], dtype=np.uint8)
    rank = 1 + int(STRUCT_MAP[arr].sum()) + bias * len(arr)
    if rank < 1:
        rank = 1
    rank = scale_word_score(rank)
    if ignore_total_word_count:
        return rank // 100
    return rank * 100 // _scheme0_reduction(max(dl, 1))


def scheme1_rank(structs: bytes, dl: int, df: int, n_docs: int,
                 total_positions: int, bias: int = 0) -> int:
    """IDF/density rank for one (doc, term)
    (getrankIDF, /root/reference/src/rank.c:524-771). ``bias`` is the
    metaname rank_bias, added to the structure weight per position
    (/root/reference/src/rank.c:574,713-726)."""
    idf = max(1, int(math.log(max(n_docs // max(df, 1), 1)) * 1000))
    avg_words = max(total_positions // max(n_docs, 1), 1)
    tf = len(structs)
    density = max(1, ((avg_words * 1000) // max(dl, 1)) * tf)
    word_weight = density * idf // 100
    arr = np.frombuffer(structs, dtype=np.uint8)
    rank = 1 + int(word_weight * (int(STRUCT_MAP[arr].sum())
                                  + bias * tf))
    return scale_word_score(max(rank, 1))


def display_scale(ranked: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Scale raw ranks to the 1-1000 display range
    (/root/reference/src/result_sort.c:454-482)."""
    if not ranked:
        return []
    big = max(r for _, r in ranked)
    scale = 1000.0 / max(big, 1)
    out = []
    for d, r in ranked:
        shown = int(r * scale)
        shown = 1000 if shown >= 999 else max(shown, 1)
        out.append((d, shown))
    return out


# --------------------------------------------------------------------
# Oracle-side evaluator (normative)
# --------------------------------------------------------------------

def oracle_swish_query(oidx, q: str, k: int = 10, scheme: int = 0,
                       scaled: bool = False,
                       ignore_total_word_count: bool = True,
                       rank_biases: dict | None = None,
                       structure_mask=None,
                       limits: dict | None = None):
    """Evaluate ``q`` over an OracleIndex with swish-compatible ranking.
    ``rank_biases`` maps metaname -> bias in [-10, 10] (metaEntry
    rank_bias, /root/reference/src/swish.h:367,378).
    ``structure_mask`` is the -t filter (words outside the mask don't
    score); ``limits`` = {prop: (lo, hi)} inclusive LimitByProperty
    ranges, applied BEFORE display scaling (the reference scales over
    the post-limit result set, proplimit.c). Returns
    [(doc_id, rank)] ordered (rank desc, doc_id asc)."""
    _check_scheme1_twc(scheme, ignore_total_word_count)
    node = parse_query(q, oidx.cfg)
    results = _o_eval(oidx, node, (scheme, ignore_total_word_count,
                                   rank_biases or {}, structure_mask))
    if limits:
        from .proplimit import limits_value_ok

        results = {
            d: v for d, v in results.items()
            if limits_value_ok(oidx.docs[d], limits,
                               getattr(oidx, "properties", ()))}
    ranked = sorted(((d, r) for d, (r, _) in results.items()),
                    key=lambda t: (-t[1], t[0]))[:k]
    return display_scale(ranked) if scaled else ranked


def _o_total_words(oidx) -> int:
    """TotalWordPos — the reference counts ADDENTRY calls
    (index.c:1298), i.e. every posting position including ExtractPath
    words, metaname fan-out, and dual fuzzy codes. The oracle's
    total_positions accumulator is exactly that (Σ len(positions) over
    all (field, term) posting lists); the engine mirrors it as
    Σ(doc_len + extra_pos) over live docs."""
    return oidx.total_positions


def _scheme_opts(scheme):
    """Normalize the scheme parameter to (scheme, ignore_twc, biases,
    structure_mask)."""
    if isinstance(scheme, tuple):
        if len(scheme) == 2:
            return scheme[0], scheme[1], {}, None
        if len(scheme) == 3:
            return (*scheme, None)
        return scheme
    return scheme, True, {}, None


def _o_leaf(oidx, field: str, term: str, scheme):
    scheme, ignore_twc, biases, mask = _scheme_opts(scheme)
    bias = int(biases.get(field, 0))
    slot = oidx.postings.get((field, term))
    if not slot:
        return {}
    if mask is not None:
        # -t structure filter: keep only positions whose structure
        # intersects the mask; docs with none left drop out, and df
        # counts survivors (same convention as the Spark engine's
        # _term_stats over mask-filtered decode)
        filt = {}
        for doc_id, (positions, structs) in slot.items():
            kept = [(p, s) for p, s in zip(positions, structs)
                    if s & mask]
            if kept:
                filt[doc_id] = ([p for p, _ in kept],
                                [s for _, s in kept])
        slot = filt
        if not slot:
            return {}
    df = len(slot)
    out = {}
    for doc_id, (positions, structs) in slot.items():
        dl = oidx.docs[doc_id]["doc_len"]
        sb = bytes(structs)
        if scheme == 0:
            r = scheme0_rank(sb, dl, ignore_twc, bias)
        else:
            r = scheme1_rank(sb, dl, df, oidx.n_docs,
                             _o_total_words(oidx), bias)
        out[doc_id] = (r, list(positions))
    return out


def _o_eval(oidx, node, scheme: int, _level: int = 1):
    """node -> {doc_id: (rank, positions)} with swish combination."""
    if isinstance(node, Term):
        return _o_leaf(oidx, node.field, node.term, scheme)
    if isinstance(node, (Prefix, Pattern)):
        match = _leaf_matcher(node)
        out: dict = {}
        for (f, t) in oidx._vocab:
            if match(f, t):
                for d, (r, p) in _o_leaf(oidx, f, t, scheme).items():
                    if d in out:
                        out[d] = (out[d][0] + r, sorted(out[d][1] + p))
                    else:
                        out[d] = (r, p)
        return out
    if isinstance(node, Phrase):
        return _o_phrase(oidx, node, scheme)
    if isinstance(node, (And, Near)):
        from .positional import near_chain

        left = _o_eval(oidx, node.left, scheme, _level)
        right = _o_eval(oidx, node.right, scheme, 1)
        level = _and_level(node.left)
        out = {}
        for d in left.keys() & right.keys():
            if isinstance(node, Near):
                # chained-NEAR area semantics (KeepPos,
                # /root/reference/src/search.c:1915-1975)
                pos = near_chain(left[d][1], right[d][1],
                                 node.distance)
                if pos is None:
                    continue
            else:
                # unsorted concat (andresultlists,
                # /root/reference/src/search.c:2300-2304)
                pos = left[d][1] + right[d][1]
            r = (left[d][0] * level + right[d][0]) // (level + 1)
            out[d] = (max(r, 1), pos)
        return out
    if isinstance(node, Or):
        left = _o_eval(oidx, node.left, scheme)
        right = _o_eval(oidx, node.right, scheme)
        # plain sorted merge, NEAR separators dropped (see oracle Or)
        out = {d: (r, sorted(x for x in p if x))
               for d, (r, p) in left.items()}
        for d, (r, p) in right.items():
            flat = sorted(x for x in p if x)
            if d in out:
                out[d] = (out[d][0] + r, sorted(out[d][1] + flat))
            else:
                out[d] = (r, flat)
        return out
    if isinstance(node, AndNot):
        left = _o_eval(oidx, node.left, scheme)
        right = _o_eval(oidx, node.right, scheme)
        return {d: v for d, v in left.items() if d not in right}
    if isinstance(node, Not):
        child = _o_eval(oidx, node.child, scheme)
        return {d: (1000, []) for d in oidx.docs if d not in child}
    raise TypeError(f"unknown node {node!r}")


def _and_level(left_node) -> int:
    """Depth of the left AND spine (andLevel,
    /root/reference/src/search.c:1209-1272)."""
    lvl = 1
    n = left_node
    while isinstance(n, (And, Near)):
        lvl += 1
        n = n.left
    return lvl


def _o_phrase(oidx, node: Phrase, scheme: int):
    """Phrase with pairwise-mean rank chain
    ((r1+r2)//2, /root/reference/src/search.c:2561-2637)."""
    seq = [(i, t) for i, t in enumerate(node.terms) if t is not None]
    leaves = [_o_leaf(oidx, node.field, t, scheme) for _, t in seq]
    if not leaves or any(not e for e in leaves):
        return {}
    common = set(leaves[0])
    for e in leaves[1:]:
        common &= e.keys()
    off0 = seq[0][0]
    out = {}
    for d in common:
        possets = [set(leaves[j][d][1]) for j in range(len(seq))]
        ok = any(all(p - off0 + off in possets[j]
                     for j, (off, _) in enumerate(seq))
                 for p in leaves[0][d][1])
        if not ok:
            continue
        rank = leaves[0][d][0]
        allpos = list(leaves[0][d][1])
        for j in range(1, len(seq)):
            rank = (rank + leaves[j][d][0]) // 2
            allpos.extend(leaves[j][d][1])
        out[d] = (max(rank, 1), sorted(allpos))
    return out


# --------------------------------------------------------------------
# Spark-side evaluator: the batch kernel under swish ranks
# --------------------------------------------------------------------

class SwishRank:
    """Schemes 0/1 as a ranking of the batch kernel (query/batch.py):
    each decoded row's leaf rank comes from ``scheme0_rank`` /
    ``scheme1_rank`` (the oracle's own scalar functions, over the
    row's structure bytes, doc length, the leaf's df, the metaname's
    rank bias and TotalWordPos), and AND/NEAR and phrases combine with
    swish's integer rules. Every other operator is the kernel's."""

    columnar = False  # the integer rules are not _eval_vec's sum
    needs_structs = True

    def __init__(self, scheme: int, ignore_total_word_count: bool,
                 rank_biases: dict):
        self.scheme = scheme
        self.ignore_twc = ignore_total_word_count
        self.biases = rank_biases

    def leaf_scores(self, frame, leaves, dfs, stats):
        structs = frame["structs"].tolist()
        dls = frame["dl"].tolist()
        # TotalWordPos over LIVE docs: Σ(doc_len + extra_pos) net of
        # tombstones — the reference counts ADDENTRY calls
        # (index.c:1298), so ExtractPath/link/fan-out/dual-fuzzy
        # postings count here even though the per-doc word count
        # (TotalWordsPerFile) excludes them (sw->TotalWordPos,
        # reference src/rank.c:638-648; same quantity as the oracle's
        # total_positions)
        total_positions = stats.get("total_pos", stats["total_len"])
        out = np.zeros(len(frame), dtype=np.int64)
        for leaf, rows in leaves:
            bias = int(self.biases.get(leaf[0], 0))
            if self.scheme == 0:
                out[rows] = [scheme0_rank(structs[i], dls[i],
                                          self.ignore_twc, bias)
                             for i in rows.tolist()]
            else:
                df = dfs.get(leaf, 0)
                out[rows] = [scheme1_rank(structs[i], dls[i], df,
                                          stats["n_docs"],
                                          total_positions, bias)
                             for i in rows.tolist()]
        return out

    @staticmethod
    def conj(node, left, right):
        # running average weighted by andLevel (reference
        # src/search.c:1209-1272, 2249-2321)
        level = _and_level(node.left)
        return max((left * level + right) // (level + 1), 1)

    @staticmethod
    def phrase(scores):
        # pairwise mean chain (reference src/search.c:2561-2637)
        rank = scores[0]
        for r in scores[1:]:
            rank = (rank + r) // 2
        return max(rank, 1)


def spark_swish_search(engine, q: str, k: int = 10, scheme: int = 0,
                       scaled: bool = False,
                       ignore_total_word_count: bool = True,
                       rank_biases: dict | None = None,
                       structure_mask=None,
                       limits: dict | None = None):
    """Swish-compatible ranked top-k over the Spark engine's segments:
    the batch pipeline of ``search_df`` (one scan, one decode with
    structures, df, one doc_id shuffle, the per-partition kernel) under
    ``SwishRank``, which calls the SAME scalar rank functions as the
    oracle evaluator. ``rank_biases`` defaults to the index config's
    persisted per-metaname biases. ``structure_mask`` filters
    positions at decode (-t); ``limits`` property ranges apply before
    display scaling. Returns [(doc_id, rank)]."""
    from pyspark.sql import functions as F

    from .batch import evaluate

    _check_scheme1_twc(scheme, ignore_total_word_count)
    engine.handle.ensure_current()  # stale caches must error, not lie
    node = parse_query(q, engine.cfg,
                       phrase_delim=getattr(engine, 'phrase_delim', '"'))
    if rank_biases is None:
        rank_biases = dict(getattr(engine.handle.cfg, "rank_biases",
                                   ()) or ())
    rank = SwishRank(scheme, ignore_total_word_count, rank_biases)
    rows = (evaluate(engine, [("q", node)], k, structure_mask, limits,
                     rank)
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .collect())
    ranked = [(r["doc_id"], int(r["score"])) for r in rows]
    return display_scale(ranked) if scaled else ranked
