"""The query evaluator: one kernel behind every engine path.

Every Spark-side evaluation (``search_batch``, the exhaustive
``search_df``, ``match_df``, the evaluation step of both WAND planners
and the swish-e ranks of schemes 0/1, ``swishrank.spark_swish_search``)
runs ``evaluate``/``score_decoded`` below, and the resident ``search()``
calls the same ``_batch_kernel`` as a single partition. A ranking
(``Bm25`` here, ``swishrank.SwishRank``) enters at two points: each
row's leaf score and the rule that combines AND/NEAR sides and phrase
words.
The Spark shape amortizes the per-query fixed cost over a battery:

1. ONE partition-pruned segment scan covering the union of every
   query's leaves (terms + expanded prefixes/patterns),
2. ONE decode pass (positions only if some query is positional),
3. ONE shuffle co-locating each doc's leaf rows,
4. a per-partition evaluation kernel: under BM25, non-positional
   queries (Term / Prefix / Pattern / AND / OR / AND-NOT / NOT)
   evaluate as numpy column arithmetic over factorized (doc, leaf)
   codes — zero Python per doc; queries with phrase/NEAR nodes, and
   every query under swish ranks, take a per-doc AST walk (the
   reference's DAAT loop, src/search.c:2249-2637) restricted to the
   docs that contain at least one of their leaves,
5. per-partition top-k (or every match when k is None), then one tiny
   per-query merge.

The kernel implements swish-e's result-list operators (andresultlists,
orresultlists, notresultlist, phraseresultlists, nearresultlists;
reference src/search.c:1979-2852) and mirrors
``oracle.engine.OracleIndex._eval`` operator for operator (same float op
order, same posdata separator rules), so every path is rank-identical
to the pure-Python oracle and bit-identical to the others. Every
operator except unary NOT is pointwise per doc, which is why the
per-doc restriction and the property-limit semi-join before scoring are
lossless. Unary NOT (score 1000 where the child is absent,
notresultlist, reference src/search.c:2514-2553) needs every live doc
in its partition: a query holding one gets one presence row per live
doc under the ``PRESENCE`` leaf, which no query can name.

Scale shape at 100 TB: the scan stays partition-pruned no matter how
many queries are batched (leaf conds OR together), the doc_id shuffle
moves each posting once regardless of how many queries reference its
term, and the kernel emits at most k rows per (query, partition) so
the final merge sees ≤ k·P rows per query — no all-matches collect
anywhere.
"""

from __future__ import annotations

from ..codec.postings import B, K1
from .parser import (
    And, AndNot, Near, Not, Or, Pattern, Phrase, Prefix, Term,
    parse_query,
)

BATCH_RESULT_SCHEMA = "query_id string, doc_id long, score double"

# (field, term) of the per-doc presence rows that unary NOT evaluates
# over: not null (pd.factorize codes nulls as -1) and not a token any
# query can produce
PRESENCE = ("\x00", "\x00")


def _has_not(node) -> bool:
    if isinstance(node, Not):
        return True
    if isinstance(node, (And, Or, AndNot, Near)):
        return _has_not(node.left) or _has_not(node.right)
    return False


def _expansion_key(node):
    if isinstance(node, Prefix):
        return ("prefix", node.field, node.prefix)
    return ("pattern", node.field, node.pattern)


def _collect_expandables(node, out):
    if isinstance(node, (Prefix, Pattern)):
        out.append(node)
    elif isinstance(node, (And, Or, AndNot, Near)):
        _collect_expandables(node.left, out)
        _collect_expandables(node.right, out)
    elif isinstance(node, Not):
        _collect_expandables(node.child, out)


def _query_leaves(node, expansions) -> set:
    """Every (field, term) the query can touch — the trigger set for
    candidate skipping in the kernel."""
    if isinstance(node, Term):
        return {(node.field, node.term)}
    if isinstance(node, (Prefix, Pattern)):
        return {(node.field, t)
                for t in expansions[_expansion_key(node)]}
    if isinstance(node, Phrase):
        return {(node.field, t) for t in node.terms if t is not None}
    if isinstance(node, (And, Or, AndNot, Near)):
        return _query_leaves(node.left, expansions) \
            | _query_leaves(node.right, expansions)
    if isinstance(node, Not):
        return _query_leaves(node.child, expansions)
    return set()


class Bm25:
    """The engine's ranking, and where any ranking enters the kernel.

    ``leaf_scores`` gives every decoded row its leaf score — for BM25
    idf·impact, the oracle's float64 expression evaluated column-wise.
    ``conj`` combines an AND/NEAR's two sides and ``phrase`` a phrase's
    words — for BM25 a plain sum, in the oracle's op order. ``columnar``
    says the rules are that sum, which ``_eval_vec`` evaluates over
    whole columns; a ranking with other rules (swishrank.SwishRank)
    walks every query per doc. OR, prefix and pattern sums, AND NOT,
    NOT = 1000 and every posdata rule are the same for all rankings."""

    columnar = True
    needs_structs = False  # leaf scores read tf and dl only

    @staticmethod
    def leaf_scores(frame, leaves, dfs, stats):
        """Per-row scores of ``frame`` for ``leaves`` [((field, term),
        row indices)]; rows of no listed leaf score 0."""
        import numpy as np

        from ..oracle.engine import bm25_idf

        tf = frame["tf"].to_numpy(dtype=np.float64)
        dl = frame["dl"].to_numpy(dtype=np.float64)
        ad = max(stats["avgdl"], 1e-9)
        impact = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / ad))
        out = np.zeros(len(frame))
        for leaf, rows in leaves:
            df = dfs.get(leaf)
            idf = 0.0 if df is None else bm25_idf(stats["n_docs"], df)
            out[rows] = idf * impact[rows]
        return out

    @staticmethod
    def conj(node, left, right):
        return left + right

    @staticmethod
    def phrase(scores):
        total = 0.0
        for s in scores:
            total += s
        return total


BM25 = Bm25()


def eval_doc(node, entries, expansions, rank=BM25):
    """Evaluate one query AST against ONE doc's leaf map.

    ``entries``: {(field, term): (leaf score, positions-or-None)}.
    ``rank`` combines AND/NEAR sides and phrase words (``Bm25``).
    Returns (score, posdata) or None — posdata may carry 0 separators
    from a NEAR series exactly like the oracle's per-doc values.
    Mirrors OracleIndex._eval and swishrank._o_eval case for case; keep
    them in sync."""
    if isinstance(node, Term):
        e = entries.get((node.field, node.term))
        if e is None:
            return None
        sc, pos = e
        return (sc, list(pos) if pos is not None else [])
    if isinstance(node, (Prefix, Pattern)):
        out = None
        for t in expansions[_expansion_key(node)]:
            e = entries.get((node.field, t))
            if e is None:
                continue
            sc, pos = e
            pl = list(pos) if pos is not None else []
            if out is None:
                out = (sc, pl)
            else:
                out = (out[0] + sc, sorted(out[1] + pl))
        return out
    if isinstance(node, Phrase):
        seq = [(i, t) for i, t in enumerate(node.terms)
               if t is not None]
        if not seq:
            return None
        ent = [entries.get((node.field, t)) for _, t in seq]
        if any(e is None for e in ent):
            return None
        possets = [set(int(p) for p in e[1]) for e in ent]
        off0 = seq[0][0]
        matched = [
            p for p in ent[0][1]
            if all(int(p) - off0 + off in possets[j]
                   for j, (off, _) in enumerate(seq))]
        if not matched:
            return None
        allpos = []
        for _, pos in ent:
            allpos.extend(int(p) for p in pos)
        return (rank.phrase([e[0] for e in ent]), sorted(allpos))
    if isinstance(node, And):
        left = eval_doc(node.left, entries, expansions, rank)
        if left is None:
            return None
        right = eval_doc(node.right, entries, expansions, rank)
        if right is None:
            return None
        # concat UNSORTED (CopyPositions l then r) — preserves NEAR
        # series separators for an enclosing NEAR
        return (rank.conj(node, left[0], right[0]), left[1] + right[1])
    if isinstance(node, Or):
        left = eval_doc(node.left, entries, expansions, rank)
        right = eval_doc(node.right, entries, expansions, rank)
        # OR posdata is a PLAIN sorted merge: drop NEAR separators
        if left is not None:
            lflat = sorted(x for x in left[1] if x)
            if right is None:
                return (left[0], lflat)
            rflat = sorted(x for x in right[1] if x)
            return (left[0] + right[0], sorted(lflat + rflat))
        if right is None:
            return None
        return (right[0], sorted(x for x in right[1] if x))
    if isinstance(node, AndNot):
        left = eval_doc(node.left, entries, expansions, rank)
        if left is None:
            return None
        right = eval_doc(node.right, entries, expansions, rank)
        return left if right is None else None
    if isinstance(node, Not):
        child = eval_doc(node.child, entries, expansions, rank)
        return (1000.0, []) if child is None else None
    if isinstance(node, Near):
        from .positional import near_chain

        left = eval_doc(node.left, entries, expansions, rank)
        if left is None:
            return None
        right = eval_doc(node.right, entries, expansions, rank)
        if right is None:
            return None
        merged = near_chain([int(p) for p in left[1]],
                            [int(p) for p in right[1]], node.distance)
        if merged is None:
            return None
        return (rank.conj(node, left[0], right[0]), merged)
    raise TypeError(f"unsupported node in batch eval: {node!r}")


def _is_positional(node) -> bool:
    """True if the AST contains a Phrase or NEAR node anywhere —
    those need per-doc position arrays; everything else is pointwise
    arithmetic on (tf, dl) and vectorizes."""
    if isinstance(node, (Phrase, Near)):
        return True
    if isinstance(node, (And, Or, AndNot)):
        return _is_positional(node.left) or _is_positional(node.right)
    if isinstance(node, Not):
        return _is_positional(node.child)
    return False


def _leaf_vec(field, term, cols, n_docs, np):
    score = np.zeros(n_docs)
    present = np.zeros(n_docs, dtype=bool)
    e = cols.get((field, term))
    if e is not None:
        di, sc = e
        score[di] = sc
        present[di] = True
    return score, present


def _eval_vec(node, cols, n_docs, expansions, np):
    """Vectorized ``eval_doc`` over every doc in the partition at once.

    Returns (score: float64[n_docs], present: bool[n_docs]) with score
    zeroed wherever present is False. Float op order per doc is
    identical to the scalar walk: leaves scatter exact row scores,
    Prefix/Pattern accumulate members sequentially in the same sorted
    vocab order, and `x + 0.0 == x` makes the zero-filled absent sides
    of AND/OR additions bit-neutral (BM25 scores are finite, never
    -0.0)."""
    if isinstance(node, Term):
        return _leaf_vec(node.field, node.term, cols, n_docs, np)
    if isinstance(node, (Prefix, Pattern)):
        score = np.zeros(n_docs)
        present = np.zeros(n_docs, dtype=bool)
        for t in expansions[_expansion_key(node)]:
            s, m = _leaf_vec(node.field, t, cols, n_docs, np)
            score = score + s
            present |= m
        return score, present
    if isinstance(node, And):
        ls, lp = _eval_vec(node.left, cols, n_docs, expansions, np)
        rs, rp = _eval_vec(node.right, cols, n_docs, expansions, np)
        p = lp & rp
        return np.where(p, ls + rs, 0.0), p
    if isinstance(node, Or):
        ls, lp = _eval_vec(node.left, cols, n_docs, expansions, np)
        rs, rp = _eval_vec(node.right, cols, n_docs, expansions, np)
        # both sides are zeroed outside their own presence, so ls + rs
        # equals the present side exactly when only one matched
        return ls + rs, lp | rp
    if isinstance(node, AndNot):
        ls, lp = _eval_vec(node.left, cols, n_docs, expansions, np)
        _, rp = _eval_vec(node.right, cols, n_docs, expansions, np)
        p = lp & ~rp
        return np.where(p, ls, 0.0), p
    if isinstance(node, Not):
        _, cp = _eval_vec(node.child, cols, n_docs, expansions, np)
        return np.where(cp, 0.0, 1000.0), ~cp
    raise TypeError(f"non-vectorizable node in batch eval: {node!r}")


def _batch_kernel(batches, asts, dfs, stats, expansions, k, rank=BM25):
    """Per-partition kernel: every row's leaf score from ``rank``
    (df per leaf from ``dfs``, corpus figures from ``stats``), then
    numpy column evaluation for the non-positional queries of a
    columnar ranking and a per-doc DAAT walk (restricted to trigger
    docs, or every doc for a query holding a unary NOT) for the rest;
    local top-k per query, every match when k is None."""
    import numpy as np
    import pandas as pd

    parts = list(batches)
    if not parts:
        return
    df = pd.concat(parts, ignore_index=True)
    if not len(df):
        return
    vec_asts = [(qid, n) for qid, n in asts
                if rank.columnar and not _is_positional(n)]
    walk_asts = [(qid, n) for qid, n in asts
                 if not rank.columnar or _is_positional(n)]

    doc_codes, doc_vals = pd.factorize(df["doc_id"])
    n_docs = len(doc_vals)
    # group rows by (field, term) leaf without string keys (pandas
    # str concat mangles control-char separators): combine the two
    # factorized code spaces into one integer leaf code
    f_codes, f_vals = pd.factorize(df["field"])
    t_codes, t_vals = pd.factorize(df["term"])
    nt = len(t_vals)
    leaf_code = f_codes.astype(np.int64) * nt + t_codes
    order = np.argsort(leaf_code, kind="stable")
    sk = leaf_code[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    ends = np.r_[starts[1:], len(sk)]
    leaves = [((f_vals[sk[s0] // nt], t_vals[sk[s0] % nt]),
               order[s0:e0]) for s0, e0 in zip(starts, ends)]
    # presence rows only mark live docs for unary NOT: never scored
    leaves = [(leaf, rows) for leaf, rows in leaves if leaf != PRESENCE]
    score = rank.leaf_scores(df, leaves, dfs, stats)
    # (field, term) -> (doc_code[], exact row score[])
    cols = {leaf: (doc_codes[rows], score[rows]) for leaf, rows in leaves}

    per_query: dict = {qid: [] for qid, _ in asts}

    for qid, node in vec_asts:
        sc_all, present = _eval_vec(node, cols, n_docs, expansions, np)
        sel = np.flatnonzero(present)
        if not len(sel):
            continue
        sc = sc_all[sel]
        ids = doc_vals[sel]
        top = np.lexsort((ids, -sc))[:k]
        per_query[qid] = [(int(ids[i]), float(sc[i])) for i in top]

    if walk_asts:
        # per-doc walk only over docs holding ≥1 of the walked leaves
        trigger = {}
        for qid, node in walk_asts:
            for leaf in _query_leaves(node, expansions):
                trigger.setdefault(leaf, []).append(qid)
        # a NOT query can match docs holding none of its leaves
        every_doc = [qid for qid, node in walk_asts if _has_not(node)]
        cand = np.full(n_docs, bool(every_doc))
        for leaf in trigger:
            e = cols.get(leaf)
            if e is not None:
                cand[e[0]] = True
        ast_by_id = dict(walk_asts)
        # candidate rows grouped by doc with one stable argsort, then
        # per-doc slices read from plain column lists (pandas per-group
        # indexing cost several times the evaluation itself)
        at = np.flatnonzero(cand[doc_codes])
        at = at[np.argsort(doc_codes[at], kind="stable")]
        at_codes = doc_codes[at]
        bounds = np.flatnonzero(np.r_[True, at_codes[1:] != at_codes[:-1],
                                      True]) if len(at) else [0]
        fields = df["field"].tolist()
        terms = df["term"].tolist()
        scores = score.tolist()
        poss = df["positions"].tolist()
        doc_list = np.asarray(doc_vals).tolist()
        for s0, e0 in zip(bounds[:-1], bounds[1:]):
            g = at[s0:e0].tolist()
            doc_id = doc_list[at_codes[s0]]
            entries = {(fields[i], terms[i]): (scores[i], poss[i])
                       for i in g}
            cands = set(every_doc)
            for ekey in entries:
                cands.update(trigger.get(ekey, ()))
            for qid in cands:
                r = eval_doc(ast_by_id[qid], entries, expansions, rank)
                if r is not None:
                    per_query[qid].append((int(doc_id), float(r[0])))
        for qid, _ in walk_asts:
            hits = per_query[qid]
            hits.sort(key=lambda h: (-h[1], h[0]))
            per_query[qid] = hits[:k]

    rows = []
    for qid, hits in per_query.items():
        rows.extend((qid, d, s) for d, s in hits)
    if rows:
        yield pd.DataFrame(rows,
                           columns=["query_id", "doc_id", "score"])


def _topk_merge(pdf, k):
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    return (pdf.sort_values(["score", "doc_id"],
                            ascending=[False, True]).head(k))


def evaluate(engine, asts, k, structure_mask=None, limits=None,
             rank=BM25):
    """Every Spark-side query evaluation: scan, decode and df for the
    union of ``asts`` ([(query_id, parsed AST)]), then
    ``score_decoded`` under ``rank``. Returns a DataFrame (query_id,
    doc_id, score) holding each query's top-k per doc_id partition
    (every match when ``k`` is None); callers merge or order it."""
    from functools import reduce

    from pyspark.sql import functions as F

    from .executor import _expand_sorted

    # one AST drives the scan planners itself (required-leaf chunk
    # pruning and allowlist); a union's Or root has no required leaves
    node = reduce(Or, (n for _, n in asts))
    decoded = engine._decoded(node, structure_mask,
                              need_structs=rank.needs_structs)
    dfs = engine._term_stats(node, decoded, structure_mask) \
        if decoded is not None else {}
    # wildcards expand over the scanned vocabulary (sorted == the
    # oracle's vocab-order accumulation)
    terms: dict = {}
    for field, term in sorted(dfs):
        terms.setdefault(field, []).append(term)
    expansions: dict = {}
    wild: list = []
    for _, n in asts:
        _collect_expandables(n, wild)
    for nd in wild:
        expansions[_expansion_key(nd)] = _expand_sorted(
            terms.get(nd.field, []), nd)
    if any(_has_not(n) for _, n in asts):
        # one presence row per live doc, added after df is counted
        live = engine.handle.live_docs().select(
            F.lit(PRESENCE[0]).alias("field"),
            F.lit(PRESENCE[1]).alias("term"), "doc_id",
            F.lit(0).cast("long").alias("tf"),
            F.col("doc_len").cast("long").alias("dl"),
            F.lit(None).cast("array<int>").alias("positions"),
            F.lit(None).cast("binary").alias("structs"))
        decoded = live if decoded is None else decoded.unionByName(live)
    if decoded is None:
        return engine.spark.createDataFrame([], BATCH_RESULT_SCHEMA)
    return score_decoded(engine, decoded, asts, dfs, k, limits,
                         expansions, rank)


def score_decoded(engine, decoded, asts, dfs, k, limits=None,
                  expansions=None, rank=BM25):
    """Score decoded posting rows (the decode kernels' schema) with the
    batch kernel under ``rank`` after one doc_id shuffle. ``dfs``:
    (field, term) -> df. Property ``limits`` keep only the rows of docs
    that pass them, before scoring: every operator is pointwise per
    doc, and for unary NOT (complement over live docs, then the filter)
    the result is the same."""
    from .proplimit import limits_cond

    stats = dict(engine.handle.stats)
    if limits:
        decoded = decoded.join(
            engine.handle.live_docs()
            .filter(limits_cond(limits, engine.handle.cfg))
            .select("doc_id"), "doc_id", "left_semi")
    expansions = expansions or {}
    return decoded.repartition("doc_id").mapInPandas(
        lambda it: _batch_kernel(it, asts, dfs, stats, expansions, k,
                                 rank),
        schema=BATCH_RESULT_SCHEMA)


def search_batch(engine, queries, k: int = 10):
    """Top-k of every query in ONE shared pipeline.

    ``queries``: {query_id: query string} (a list gets ids q000..).
    Returns a DataFrame (query_id, doc_id, score) — the same rows as
    ``[engine.search_df(q, k) for q in queries]``, bit-identical
    scores, in one scan + two bounded shuffles instead of N jobs.
    """
    if not isinstance(queries, dict):
        queries = {f"q{i:03d}": q for i, q in enumerate(queries)}
    engine.handle.ensure_current()
    asts = [(qid, parse_query(qs, engine.cfg,
                              phrase_delim=engine.phrase_delim))
            for qid, qs in queries.items()]
    if not asts:
        return engine.spark.createDataFrame([], BATCH_RESULT_SCHEMA)
    return (evaluate(engine, asts, k).groupBy("query_id")
            .applyInPandas(lambda pdf: _topk_merge(pdf, k),
                           schema=BATCH_RESULT_SCHEMA))
