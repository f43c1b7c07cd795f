"""Query engine over the segment tables: resident and distributed.

Resident path. When the manifest-listed segment files of an index fit
``SparkQueryEngine.RESIDENT_MAX_BYTES`` (240 MiB on disk), opening an
engine reads the docs stats and the tombstones into driver memory, and
the first ``search()`` that can use the segment chunks loads them as
Arrow (``IndexHandle.resident``), as the reference opens its index
once per handle (reference src/db_native.c).
``search()`` then runs no Spark job: the leaves' chunk rows are looked
up in a (field, term) dictionary (prefixes and patterns expand over a
sorted per-field term list), decoded by ``_decode_kernel`` (structure
mask included), stripped of tombstoned docs, and scored by the batch
kernel (query/batch.py) as a single partition; unary NOT evaluates over
presence rows of the live docs, whose ids and lengths the handle keeps.
WAND, the chunk pruner, the allowlist and the θ/dictionary/df caches
below are not used on this path. ``search()`` with property
``limits``, every ``search()`` on an over-budget index, and
``search_df``/``match_df``/``search_batch`` always take the Spark path;
``last_search_path`` records which one ran.

Spark path. The rebuild of swish-e's search path (SURVEY.md §3.2): the
driver compiles the query (shared compiler, query/parser.py), plans a
partition-pruned scan of the segment chunks for the needed terms (exact
terms by `term_bucket` partition + `term =` predicate, the hash-probe
analogue, reference src/search.c:1618-1629; prefixes and patterns via
the terms table, reference src/search.c:1631-1843), decodes postings in
an Arrow-batched kernel (structure mask as a vectorized bitmask over
per-position structure bytes, test_structure, reference
src/search.c:1475-1494), and scores the decoded rows with the same
batch kernel as the resident path (query/batch.py ``evaluate``) after
one doc_id shuffle. Property limits are a semi-join on the decoded rows
before scoring; top-k is orderBy(score desc, doc_id).limit(k) over the
per-partition top-k (new vs the reference, which sorts the full result
list).

Chunk pruning (block-max groundwork): for conjunctive nodes the chunk
doc-ranges of the rarest term are intersected against the other terms'
chunk ranges BEFORE decode, so chunks of frequent terms that cannot
contain a match are never unpacked. Per-block (max_tf, min_dl) bounds are
stored in the segments for full block-max WAND.

Scores are computed with the exact same float64 expression as the oracle
(oracle/engine.py) in the same per-doc operation order, so ``search()``,
``search_df`` and ``search_batch`` agree bit for bit.
"""

from __future__ import annotations

import pandas as pd

from ..codec.postings import B, K1
from ..index.builder import IndexHandle, term_bucket
from ..oracle.engine import bm25_idf
from .parser import (
    And, AndNot, Near, Or, Pattern, Phrase, Prefix, Term,
    parse_query,
)

DECODED_SCHEMA = ("field string, term string, doc_id long, tf long, "
                  "dl long, positions array<int>, structs binary")



def _decode_kernel(batches, need_positions: bool, structure_mask,
                   need_structs: bool = False, allow_docs=None):
    """Arrow-batched chunk decode → per-posting rows, one batch codec
    call per batch. ``base`` column (merged-index doc rebase,
    index/maintenance.py) is added to decoded doc ids when present.

    ``allow_docs`` (sorted global doc ids) restricts the output to
    those docs BEFORE per-doc position arrays are materialized — for a
    conjunction with a rare required leaf, the other leaves' postings
    collapse from hundreds of thousands of rows (each carrying an
    Arrow position array) to the rare doc set. Lossless: every match
    of the conjunction contains the rare leaf, so only allow-listed
    docs can match, and all postings OF an allow-listed doc survive
    the filter (scores unchanged)."""
    import numpy as np

    from ..codec.postings import unpack_posting_lists

    want_pos = need_positions or structure_mask is not None
    want_structs = need_structs or structure_mask is not None
    for pdf in batches:
        if not len(pdf):
            continue
        doc_ids, tfs, positions, structs, dls, counts = \
            unpack_posting_lists(
                pdf["docs_bin"], pdf["tfs_bin"],
                pdf["pos_bin"] if want_pos else None,
                pdf["structs_bin"] if want_structs else None,
                pdf["dls_bin"],
                base=(pdf["base"].to_numpy(np.int64)
                      if "base" in pdf.columns else None))
        row_of_doc = np.repeat(np.arange(len(pdf)), counts)
        if allow_docs is not None and len(doc_ids):
            idx = np.searchsorted(allow_docs, doc_ids)
            inb = idx < len(allow_docs)
            sel = np.zeros(len(doc_ids), dtype=bool)
            sel[inb] = allow_docs[idx[inb]] == doc_ids[inb]
            if not sel.all():
                pk = np.repeat(sel, tfs)
                if positions is not None:
                    positions = positions[pk]
                if structs is not None:
                    structs = structs[pk]
                doc_ids, tfs, dls, row_of_doc = \
                    doc_ids[sel], tfs[sel], dls[sel], row_of_doc[sel]
        if structure_mask is not None and len(doc_ids):
            keep = (structs & structure_mask) != 0
            # tfs >= 1, so the per-doc segment starts strictly increase
            new_tfs = np.add.reduceat(keep.astype(np.int64),
                                      np.cumsum(tfs) - tfs)
            sel = new_tfs > 0
            positions = positions[keep]
            structs = structs[keep]
            doc_ids, tfs, dls, row_of_doc = \
                doc_ids[sel], new_tfs[sel], dls[sel], row_of_doc[sel]
        n = len(doc_ids)
        if not n:
            continue
        split_at = np.cumsum(tfs)[:-1]
        yield pd.DataFrame({
            "field": pdf["field"].to_numpy()[row_of_doc],
            "term": pdf["term"].to_numpy()[row_of_doc],
            "doc_id": doc_ids, "tf": tfs, "dl": dls,
            "positions": (np.split(positions.astype(np.int32), split_at)
                          if need_positions else [None] * n),
            "structs": ([a.tobytes() for a in np.split(structs, split_at)]
                        if need_structs else [None] * n)})


def _wand_block_kernel(batches, prune: dict, theta: float,
                       avgdl: float, bases: dict, acc=None):
    """TF-only decode for the WAND main pass with BLOCK-granularity
    skipping: per 128-doc block, ub = idf*impact(block_max_tf,
    block_min_dl) + Σ other-leaves' global upper bounds; blocks with
    ub < θ are dropped BEFORE their postings are materialized (the
    block-max part of the north rule; contrast the reference, which
    scores every posting — /root/reference/src/search.c:1766-1813).

    Safety: a doc in a dropped block of leaf t has true score ≤
    ub_block(t) + others < θ ≤ true k-th score, so it cannot enter the
    top-k; docs partially scored due to the drop only score LOWER.
    ``prune`` maps scoring (field, term) -> (idf, others); aux leaves
    (AndNot right sides) are absent and always fully decoded. ``acc``
    is a Spark accumulator counting pruned blocks.
    """
    import numpy as np

    from ..codec.postings import BLOCK_SIZE, unpack_posting_lists

    masks = prune.get("masks")
    for pdf in batches:
        # each chunk's block mask first (None: keep every posting), then
        # one unpack of the kept chunks and one per-posting keep mask
        kept_rows, kept_masks = [], []
        for i, rec in enumerate(pdf.to_dict("records")):
            bmask = None
            if masks is not None:
                # range-aware plan: the driver precomputed each block's
                # keep bit with the OTHER leaves' maxima over the same
                # doc range (_plan_block_masks)
                bmask = masks.get((rec["field"], rec["term"],
                                   int(rec["shard"]), rec["doc_lo"]))
                if bmask is not None:
                    if not bmask.any():
                        continue  # whole chunk below θ: skip unpack
                    if bmask.all():
                        bmask = None
            elif theta > 0.0:
                info = prune.get((rec["field"], rec["term"]))
                if info is not None:
                    idf, others = info[0], info[1]
                    rare_list = info[2] if len(info) > 2 else ()
                    btf = np.asarray(rec["block_max_tf"],
                                     dtype=np.float64)
                    bdl = np.asarray(rec["block_min_dl"],
                                     dtype=np.float64)
                    ub = idf * (btf * (K1 + 1.0)) / (
                        btf + K1 * (1.0 - B + B * bdl / avgdl)) + others
                    if rare_list:
                        # rare leaves contribute by exact presence in
                        # each block's doc range, not globally — the
                        # distributed-planner analogue of the driver
                        # plan's exact_presence_vec (searchsorted on
                        # the rare leaf's sorted global doc ids)
                        rb = int(bases.get(int(rec["shard"]), 0)) \
                            if bases else 0
                        blo = np.asarray(rec["block_doc_lo"],
                                         dtype=np.int64) + rb
                        bhi = np.asarray(rec["block_doc_hi"],
                                         dtype=np.int64) + rb
                        for docs_u, gub_u in rare_list:
                            i0 = np.searchsorted(docs_u, blo,
                                                 side="left")
                            i1 = np.searchsorted(docs_u, bhi,
                                                 side="right")
                            ub = ub + np.where(i1 > i0, gub_u, 0.0)
                    bmask = ub >= theta
                    if not bmask.any():
                        if acc is not None:
                            acc.add(len(bmask))
                        continue  # whole chunk below θ: skip the unpack
                    if bmask.all():
                        bmask = None
                    elif acc is not None:
                        acc.add(int((~bmask).sum()))
            kept_rows.append(i)
            kept_masks.append(bmask)
        if not kept_rows:
            continue
        kept = pdf.iloc[kept_rows]
        doc_ids, tfs, _pos, _st, dls, counts = unpack_posting_lists(
            kept["docs_bin"], kept["tfs_bin"], None, None,
            kept["dls_bin"],
            base=([int(bases.get(int(sh), 0)) for sh in kept["shard"]]
                  if bases else None))
        keep = []
        for bmask, n in zip(kept_masks, counts.tolist()):
            if bmask is None:
                keep.append(np.ones(n, dtype=bool))
            else:
                sizes = np.full(len(bmask), BLOCK_SIZE, dtype=np.int64)
                sizes[-1] = n - BLOCK_SIZE * (len(bmask) - 1)
                keep.append(np.repeat(bmask, sizes))
        keep = np.concatenate(keep)
        row_of = np.repeat(np.arange(len(kept)), counts)[keep]
        doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]
        n = len(doc_ids)
        if not n:
            continue
        yield pd.DataFrame({
            "field": kept["field"].to_numpy()[row_of],
            "term": kept["term"].to_numpy()[row_of],
            "doc_id": doc_ids, "tf": tfs, "dl": dls,
            "positions": [None] * n, "structs": [None] * n,
        })


def _expand_sorted(terms: list, node) -> list:
    """Terms of one field's sorted vocabulary matching a Prefix or
    Pattern node: a bisect to the literal prefix's range, then (for
    patterns) the anchored regex of the terms-table expansion. Both
    evaluators expand with it: the resident path over the index's
    vocabulary, ``batch.evaluate`` over the scanned terms' df keys."""
    from bisect import bisect_left

    pre = node.prefix if isinstance(node, Prefix) \
        else node.literal_prefix()
    out = []
    for t in terms[bisect_left(terms, pre):]:
        if not t.startswith(pre):
            break
        out.append(t)
    if isinstance(node, Pattern):
        import re

        rx = re.compile(node.regex())
        out = [t for t in out if rx.fullmatch(t)]
    return out


def _wand_leaves(node):
    """(scoring_leaves, aux_leaves) for a WAND-eligible tree, else None.

    Eligible: Term / And / Or / AndNot over eligible subtrees. Scoring
    leaves contribute to the doc-score upper bound (score = SUM over
    matched leaves); aux leaves (AndNot right sides) only remove docs
    and are decoded unpruned. Phrase/Near/Not/Prefix fall back to the
    exhaustive path."""
    if isinstance(node, Term):
        return [(node.field, node.term)], []
    if isinstance(node, (And, Or)):
        lt = _wand_leaves(node.left)
        rt = _wand_leaves(node.right)
        if lt is None or rt is None:
            return None
        return lt[0] + rt[0], lt[1] + rt[1]
    if isinstance(node, AndNot):
        lt = _wand_leaves(node.left)
        rt = _wand_leaves(node.right)
        if lt is None or rt is None:
            return None
        return lt[0], lt[1] + rt[0] + rt[1]
    return None


def _required_leaves(node):
    """Leaves conjunctively REQUIRED for a match (every matching doc
    contains them) — used for chunk doc-range intersection pruning.
    Phrase/NEAR words are all required too (a phrase match needs every
    non-gap word in the doc, /root/reference/src/search.c:2203-2260),
    which is what lets the exhaustive positional path skip decoding
    head-term chunks outside the rare term's doc ranges."""
    if isinstance(node, Term):
        return {(node.field, node.term)}
    if isinstance(node, (And, Near)):
        return _required_leaves(node.left) | _required_leaves(node.right)
    if isinstance(node, AndNot):
        return _required_leaves(node.left)
    if isinstance(node, Phrase):
        return {(node.field, t) for t in node.terms if t is not None}
    return set()


class SparkQueryEngine:
    def __init__(self, spark, handle: IndexHandle):
        from ..shipping import ship_package

        ship_package(spark)
        self.spark = spark
        self.handle = handle
        self.cfg = handle.cfg.tokenizer_config()
        auto = handle.meta.get("auto_stopwords")
        if auto:
            # IgnoreLimit words stop out at query time
            # (maintenance.apply_ignore_limit)
            from dataclasses import replace

            self.cfg = replace(
                self.cfg,
                stopwords=self.cfg.stopwords | frozenset(auto))
        self.n_buckets = handle.cfg.n_buckets
        # -P phrase delimiter override (swish.c:666-672); queries parse
        # with this char delimiting phrases and '"' as an ordinary char
        self.phrase_delim = '"'
        self._prefix_cache: dict = {}
        self._df_cache: dict = {}  # (field, term) -> df across queries
        # resident term-dictionary cache: (field, term) -> chunk
        # metadata rows incl. block bounds. A native engine keeps its
        # word dictionary + skip metadata in memory across queries
        # (the reference mmaps the index file once per handle,
        # /root/reference/src/db_native.c); here the analogue is
        # caching the tiny metadata collect so a warm WAND query plans
        # with ZERO extra Spark jobs. Bounded by _CHUNK_META_CACHE_CAP
        # total chunks; per-term lists above WAND_BLOCK_PLAN_CHUNKS
        # never enter (those queries take the uncached big path).
        self._chunk_meta_cache: dict = {}
        self._chunk_meta_chunks = 0
        # threshold cache (classic IR threshold/impact caching): a
        # completed top-k query's true k-th score is the tightest
        # lossless θ for the SAME query later — a warm repeat plans
        # from cache and runs as a single Spark job. Keyed on the
        # canonical AST repr + k; only populated/read when no property
        # limits apply (limits change the admissible doc set).
        self._theta_cache: dict = {}
        # rare-leaf exact doc ids ((field, term) -> sorted global ids)
        # fetched once by the θ seed; index-static like the dictionary
        self._rare_docs_cache: dict = {}
        self.exh_prune_min_docs = self.EXH_PRUNE_MIN_DOCS
        self.last_exh_stats = None  # exhaustive-path pruning evidence
        self.last_search_path = None  # "resident" or "spark"
        self._resident = handle.resident(self.RESIDENT_MAX_BYTES)

    # on-disk segment bytes up to which search() is answered in-process.
    # Set at the largest index measured (546k docs, 237 MiB of segments;
    # 4 cores, 2 GB driver heap): there every query family was still
    # faster resident than on Spark, phrase and NEAR least (1.4-2.2 s
    # against 2.4-3.2 s), and the copy cost the Python driver ~460 MB
    # of RSS (peak ~860 MB while loading).
    RESIDENT_MAX_BYTES = 240 << 20

    PREFIX_EXPAND_CAP = 5000  # max terms a wildcard may expand to via
                              # the terms table before falling back to a
                              # full range scan

    # ---- planning ----

    @staticmethod
    def _wildcard_cond(field, prefix, regex=None):
        """Terms of ``field`` under ``prefix`` that, for an in-word
        pattern, also match its anchored ``regex`` (literal-prefix range
        narrowing + regex post-filter,
        reference src/search.c:1662-1728)."""
        from pyspark.sql import functions as F

        cond = (F.col("field") == field) & F.col("term").startswith(prefix)
        if regex is not None:
            cond = cond & F.col("term").rlike("^" + regex + "$")
        return cond

    def _expand_prefix(self, field, prefix, regex=None):
        """Expand ``prefix*`` (or a pattern: its literal prefix and
        regex) against the terms summary table (sorted word-list scan,
        reference src/search.c:1631-1843) → {bucket: [term]}, or
        None past ``PREFIX_EXPAND_CAP``. The terms table is tiny
        relative to segments, and the result turns an all-bucket scan
        into exact partition-pruned lookups."""
        key = (field, prefix, regex)
        if key in self._prefix_cache:
            return self._prefix_cache[key]
        result = None
        try:
            tdf = self.handle.terms()
        except Exception:
            tdf = None  # older index without a terms table
        if tdf is not None:
            rows = (tdf.filter(self._wildcard_cond(field, prefix, regex))
                    .select("term_bucket", "term").distinct()
                    .limit(self.PREFIX_EXPAND_CAP + 1).collect())
            if len(rows) <= self.PREFIX_EXPAND_CAP:
                by_bucket: dict = {}
                for r in rows:
                    by_bucket.setdefault(r["term_bucket"], []).append(
                        r["term"])
                result = by_bucket
        self._prefix_cache[key] = result
        return result

    def _segment_scan(self, node):
        """Partition-pruned scan of chunk rows for all query leaves."""
        from pyspark.sql import functions as F

        from .parser import (
            collect_patterns, collect_prefixes, collect_terms,
        )

        terms = set(collect_terms(node))
        prefixes = set(collect_prefixes(node))
        patterns = collect_patterns(node)
        seg = self.handle.segments()
        conds = []
        wild = [(pat.field, pat.literal_prefix(), pat.regex())
                for pat in patterns]
        wild += [(field, prefix, None) for field, prefix in prefixes]
        for field, term in terms:
            conds.append(
                (F.col("term_bucket") == term_bucket(term, self.n_buckets))
                & (F.col("term") == term) & (F.col("field") == field))
        for field, prefix, regex in wild:
            expanded = self._expand_prefix(field, prefix, regex)
            if expanded is None:  # too many matches: unpruned range scan
                conds.append(self._wildcard_cond(field, prefix, regex))
            else:
                conds.extend(
                    (F.col("term_bucket") == b)
                    & F.col("term").isin(ts)
                    & (F.col("field") == field)
                    for b, ts in expanded.items())
        if not conds:
            return None
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        return seg.filter(cond)

    EXH_PRUNE_MIN_DOCS = 100_000  # below this the chunk-metadata job
                                  # costs more than the decode it saves

    def _prune_required_chunks(self, node, scan):
        """Exhaustive-path analogue of the WAND planner's
        overlaps_required: drop chunks of conjunctively-required leaves
        whose doc range overlaps NO chunk of some other required leaf.
        Docs in a dropped chunk miss at least one required word, so the
        conjunction (And/Phrase/NEAR) cannot match them — skipping the
        positional decode is lossless. `rare NEAR head` then decodes
        only the head-term chunks near the rare term instead of the
        whole head posting list. Applied only when df comes from
        segment metadata (no structure mask, no tombstones), so BM25
        idf never sees the pruned scan. Reference contrast:
        getfileinfo seeks only the requested metaID chunk
        (/root/reference/src/search.c:1731-1760); here the skip falls
        out of chunk doc-range metadata before posting bytes are read."""
        from bisect import bisect_right

        from pyspark.sql import functions as F

        required = _required_leaves(node)
        if len(required) < 2:
            return scan
        if self.handle.stats["n_docs"] < self.exh_prune_min_docs:
            return scan
        meta = self._wand_meta_cached(sorted(required))
        if meta is None:
            meta = (scan.select("field", "term", "shard", "doc_lo",
                                "doc_hi")
                    .limit(self.WAND_MAX_CHUNKS + 1).collect())
            if len(meta) > self.WAND_MAX_CHUNKS:
                return scan  # planning collect would flood the driver
        bases = self.handle.shard_bases
        chunks: dict = {}  # required leaf -> [(shard, lo, glo, ghi)]
        for r in meta:
            key = (r["field"], r["term"])
            if key not in required:
                continue
            base = int(bases.get(int(r["shard"]), 0)) if bases else 0
            chunks.setdefault(key, []).append(
                (int(r["shard"]), r["doc_lo"], r["doc_lo"] + base,
                 r["doc_hi"] + base))
        if len(chunks) < 2:
            return scan
        # merged GLOBAL intervals per leaf (shard-rebased, same
        # coordinate rule as the WAND planner) for log-time probes
        merged: dict = {}
        for key, cl in chunks.items():
            iv = sorted((g, h) for _, _, g, h in cl)
            acc = [list(iv[0])]
            for g, h in iv[1:]:
                if g <= acc[-1][1]:
                    acc[-1][1] = max(acc[-1][1], h)
                else:
                    acc.append([g, h])
            merged[key] = ([g for g, _ in acc], [h for _, h in acc])

        def overlaps(key, glo, ghi):
            starts, ends = merged[key]
            i = bisect_right(starts, ghi) - 1
            return i >= 0 and ends[i] >= glo

        drop: dict = {}  # (field, term, shard) -> [doc_lo, ...]
        total = pruned = 0
        for key, cl in chunks.items():
            for shard, lo, glo, ghi in cl:
                total += 1
                if any(not overlaps(other, glo, ghi)
                       for other in chunks if other != key):
                    drop.setdefault((key[0], key[1], shard),
                                    []).append(lo)
                    pruned += 1
        self.last_exh_stats = {"chunks_total": total,
                               "chunks_pruned": pruned}
        if not pruned:
            return scan
        cond = None
        for (field, term, shard), los in drop.items():
            c = ((F.col("field") == field) & (F.col("term") == term)
                 & (F.col("shard") == shard)
                 & F.col("doc_lo").isin(los))
            cond = c if cond is None else cond | c
        return scan.filter(~cond)

    def _required_allow_docs(self, node):
        """Sorted global doc ids of the rarest conjunctively-required
        leaf, when its df is small enough to hold on the driver — the
        exhaustive-path analogue of DAAT intersection driving: every
        match of an And/Phrase/NEAR contains that leaf, so the decode
        kernel can drop all other docs BEFORE materializing per-doc
        position arrays (the dominant positional-query cost). Chunk
        doc-range pruning cannot help here — a scattered df-64 term's
        single chunk spans the whole doc space. Returns None when no
        qualifying leaf exists."""
        from pyspark.sql import functions as F

        required = _required_leaves(node)
        if len(required) < 2:
            return None
        if self.handle.stats["n_docs"] < self.exh_prune_min_docs:
            return None
        meta = self._wand_meta_cached(sorted(required))
        if meta is not None:
            df_by: dict = {}
            for r in meta:
                key = (r["field"], r["term"])
                df_by[key] = df_by.get(key, 0) + r["df"]
        else:
            # head leaves over the dictionary-cache chunk cap (a
            # 10^12-doc term is millions of chunks): one per-leaf df
            # aggregate, only for leaves the cross-query df cache
            # doesn't already hold — no chunk list reaches the driver,
            # and a warm positional query pays zero extra jobs
            missing = [kk for kk in required
                       if kk not in self._df_cache]
            if missing:
                cond = None
                for field, term in missing:
                    c = ((F.col("term_bucket")
                          == term_bucket(term, self.n_buckets))
                         & (F.col("term") == term)
                         & (F.col("field") == field))
                    cond = c if cond is None else cond | c
                rows = (self.handle.segments().filter(cond)
                        .groupBy("field", "term")
                        .agg(F.sum("df").alias("df")).collect())
                found = {(r["field"], r["term"]): r["df"]
                         for r in rows}
                for kk in missing:  # absent leaves cache as df 0 too
                    self._df_cache[kk] = found.get(kk, 0)
            df_by = {kk: self._df_cache[kk] for kk in required
                     if self._df_cache.get(kk, 0) > 0}
        if not df_by or len(df_by) < len(required):
            return None  # an absent required leaf: no matches anyway
        rare = min(df_by, key=df_by.get)
        others_df = sum(df_by.values()) - df_by[rare]
        # benefit gate: the filter pays when the rare doc set is much
        # smaller than the other leaves' posting mass. Heavily
        # co-occurring leaves (a phrase whose words appear only
        # together) keep ~every posting, so a near-equal-df allowlist
        # is pure fetch + filter overhead.
        if df_by[rare] > self.EXH_ALLOW_MAX_DF \
                or df_by[rare] * 4 > others_df:
            return None
        return self._leaf_docs(*rare)

    def _leaf_docs(self, field, term):
        """Sorted GLOBAL doc ids of one leaf, fetched driver-side from
        its posting binaries (bounded by the caller's df cap — a rare
        leaf fits one or two chunks regardless of corpus size) and
        cached like the dictionary."""
        import numpy as np

        from ..codec.postings import unpack_posting_lists
        from pyspark.sql import functions as F

        cached = self._rare_docs_cache.get((field, term))
        if cached is not None:
            return cached
        rows = (self.handle.segments()
                .filter((F.col("term_bucket")
                         == term_bucket(term, self.n_buckets))
                        & (F.col("term") == term)
                        & (F.col("field") == field))
                .select("shard", "docs_bin").collect())
        if not rows:
            return None
        bases = self.handle.shard_bases
        doc_ids = unpack_posting_lists(
            [r["docs_bin"] for r in rows],
            base=([int(bases.get(int(r["shard"]), 0)) for r in rows]
                  if bases else None))[0]
        ids = np.sort(doc_ids)
        # bounded like the dictionary cache: a long-lived engine
        # serving many distinct rare leaves must not grow without
        # limit (each entry is up to EXH_ALLOW_MAX_DF int64 ids)
        held = sum(len(v) for v in self._rare_docs_cache.values())
        if held + len(ids) > self._RARE_DOCS_CACHE_IDS:
            self._rare_docs_cache.clear()
        self._rare_docs_cache[(field, term)] = ids
        return ids

    def _decoded(self, node, structure_mask, need_structs: bool = False):
        from pyspark.sql import functions as F

        from .batch import _is_positional

        scan = self._segment_scan(node)
        if scan is None:
            return None
        self.last_exh_stats = None
        allow = None
        if structure_mask is None and self.handle.removed() is None:
            # df for idf comes from unpruned segment metadata in this
            # case (_term_stats fast path), so range pruning is safe
            scan = self._prune_required_chunks(node, scan)
            allow = self._required_allow_docs(node)
            if allow is not None:
                st = self.last_exh_stats or {"chunks_total": 0,
                                             "chunks_pruned": 0}
                st["allow_docs"] = len(allow)
                self.last_exh_stats = st
        bases = self.handle.shard_bases
        if bases:
            # merged index: per-shard doc-id rebase (maintenance.py)
            expr = F.lit(0).cast("long")
            for sid, b in bases.items():
                expr = F.when(F.col("shard") == sid,
                              F.lit(b).cast("long")).otherwise(expr)
            scan = scan.withColumn("base", expr)
        need_pos = _is_positional(node)
        mask = structure_mask
        # the decode kernel never reads the block-bound metadata —
        # dropping it prunes four array columns from the scan
        scan = scan.drop("block_doc_lo", "block_doc_hi",
                         "block_max_tf", "block_min_dl")
        if not need_pos and mask is None and not need_structs:
            # TF-only scoring: positions/structures are the BULK of the
            # index bytes — drop the columns so the parquet scan never
            # reads them (column pruning through mapInPandas)
            scan = scan.drop("pos_bin", "structs_bin")
        out = scan.mapInPandas(
            lambda it: _decode_kernel(it, need_pos, mask, need_structs,
                                      allow),
            schema=DECODED_SCHEMA)
        removed = self.handle.removed()
        if removed is not None:
            # deleted-doc filter (/root/reference/src/search.c:1789)
            out = out.join(removed.select("doc_id"), "doc_id",
                           "left_anti")
        return out

    def _term_stats(self, node, decoded, structure_mask):
        """Global df per (field, term): from segment metadata (fast path)
        or from decoded counts when a structure mask or tombstones change
        df (matching the oracle's df over surviving postings). Exact-term
        dfs are cached across queries (the stem-cache spirit,
        /root/reference/src/index.c:2690-2721) — repeat terms skip the
        metadata job entirely."""
        from pyspark.sql import functions as F

        from .parser import collect_patterns, collect_prefixes, collect_terms

        if structure_mask is None and self.handle.removed() is None:
            leaves = set(collect_terms(node))
            exact_only = not collect_prefixes(node) \
                and not collect_patterns(node)
            if exact_only and leaves <= self._df_cache.keys():
                return {k: self._df_cache[k] for k in leaves
                        if self._df_cache[k] > 0}
            scan = self._segment_scan(node)
            rows = (scan.groupBy("field", "term")
                    .agg(F.sum("df").alias("df")).collect())
            found = {(r["field"], r["term"]): r["df"] for r in rows}
            for key in leaves:  # cache absent terms as df 0 too
                self._df_cache[key] = found.get(key, 0)
            return found
        rows = (decoded.groupBy("field", "term")
                .agg(F.count("*").alias("df")).collect())
        return {(r["field"], r["term"]): r["df"] for r in rows}

    # ---- block-max WAND top-k (north-rule pruning) ----

    WAND_MIN_CHUNKS = 64   # below this, exhaustive decode is cheaper
    WAND_MIN_DOCS = 200_000  # auto mode: skip the metadata job outright
                             # on small indexes (it would always fall
                             # back); "force" bypasses the gate
    WAND_MAX_CHUNKS = 200_000  # driver-side planning cap: beyond this
                             # the per-chunk metadata collect would
                             # flood the driver (a 10^12-doc head term
                             # is ~30M chunks); switch to the fully
                             # distributed planner (_search_wand_big),
                             # which never enumerates chunks on the
                             # driver.

    _CHUNK_META_CACHE_CAP = 65_536  # total cached chunk rows; ~256
                                    # block floats each -> ~130 MB max

    def _wand_meta_cached(self, leaf_keys):
        """Chunk+block-bound metadata for exact (field, term) leaves,
        from the resident dictionary cache; one metadata job fetches
        only the missing leaves. Returns a row list usable exactly
        like the direct collect, or None when the result would exceed
        the block-planning cap (caller falls back to the uncached
        two-step collect / distributed planner)."""
        from pyspark.sql import functions as F

        missing = [kk for kk in leaf_keys
                   if kk not in self._chunk_meta_cache]
        if missing:
            cond = None
            for field, term in missing:
                c = ((F.col("term_bucket")
                      == term_bucket(term, self.n_buckets))
                     & (F.col("term") == term)
                     & (F.col("field") == field))
                cond = c if cond is None else cond | c
            stats = self.handle.stats
            avgdl = max(stats["avgdl"], 1e-9)
            impact = lambda t, d: (t * (K1 + 1.0)) / (  # noqa: E731
                t + K1 * (1.0 - B + B * d / avgdl))
            ub_raw = F.array_max(F.zip_with(
                F.transform("block_max_tf", lambda x: x.cast("double")),
                F.transform("block_min_dl", lambda x: x.cast("double")),
                impact)).alias("ub_raw")
            rows = (self.handle.segments().filter(cond)
                    .select("field", "term", "shard", "doc_lo",
                            "doc_hi", "df", ub_raw, "block_doc_lo",
                            "block_doc_hi", "block_max_tf",
                            "block_min_dl")
                    .limit(self.WAND_BLOCK_PLAN_CHUNKS + 1).collect())
            if len(rows) > self.WAND_BLOCK_PLAN_CHUNKS:
                return None  # too many chunks to plan block-wise
            by_key: dict = {}
            for r in rows:
                by_key.setdefault((r["field"], r["term"]),
                                  []).append(r.asDict())
            if self._chunk_meta_chunks + len(rows) \
                    > self._CHUNK_META_CACHE_CAP:
                # evict, but KEEP this query's already-cached leaves —
                # the assembly loop below reads every leaf_key
                keep = {kk: self._chunk_meta_cache[kk]
                        for kk in leaf_keys
                        if kk in self._chunk_meta_cache}
                self._chunk_meta_cache = keep
                self._chunk_meta_chunks = sum(
                    len(v) for v in keep.values())
            for kk in missing:
                rl = by_key.get(kk, [])
                self._chunk_meta_cache[kk] = rl
                self._chunk_meta_chunks += len(rl)
        out = []
        for kk in leaf_keys:
            out.extend(self._chunk_meta_cache[kk])
        return out if len(out) <= self.WAND_BLOCK_PLAN_CHUNKS else None

    def _search_wand(self, node, k: int, limits, force: bool = False):
        """Distributed block-max WAND: prune posting chunks whose score
        upper bound cannot reach the top-k threshold BEFORE decoding.

        The reference scores every posting of every matched term
        (/root/reference/src/search.c:1766-1813); block-max pruning is
        the north-rule addition. Distributed shape (one tiny metadata
        job + one seed job + the pruned main job, instead of WAND's
        sequential pointer walk):

        1. metadata-only scan: per chunk, ub = idf * max over blocks of
           impact(block_max_tf, block_min_dl) — computed JVM-side from
           the block arrays, no posting binaries read;
        2. seed decode of the best-ub chunk per term (plus, for
           conjunctions, overlapping chunks of the rarest term's best
           range): exact achievable scores -> threshold θ = k-th best;
        3. main decode keeps chunk c of term t only if
           ub_c + Σ_{t'≠t} max-ub_{t'} >= θ, and (for conjunctively
           required terms) its doc range intersects every other required
           term's ranges. Safety: any pruned doc's true score < θ <= the
           true k-th score, so the exact top-k always survives; docs
           partially decoded due to pruning score strictly below θ and
           cannot displace them.

        Returns the top-k DataFrame, or None to fall back.
        """
        from pyspark.sql import functions as F

        if self.handle.removed() is not None:
            return None  # tombstones change df/idf: take the exact path
        if not force and (self.handle.meta.get("doc_count", 0)
                          < self.WAND_MIN_DOCS):
            return None
        leaves = _wand_leaves(node)
        if leaves is None:
            return None
        scoring, aux = leaves
        if not scoring:
            return None
        scan = self._segment_scan(node)
        if scan is None:
            return None
        stats = self.handle.stats
        avgdl = max(stats["avgdl"], 1e-9)
        impact = lambda t, d: (t * (K1 + 1.0)) / (  # noqa: E731
            t + K1 * (1.0 - B + B * d / avgdl))
        ub_raw = F.array_max(F.zip_with(
            F.transform("block_max_tf", lambda x: x.cast("double")),
            F.transform("block_min_dl", lambda x: x.cast("double")),
            impact)).alias("ub_raw")
        # one collect serves BOTH chunk planning and (in the common
        # small case) the range-aware block planner: the 128-doc block
        # bound arrays ride along, avoiding a second metadata job.
        # WAND leaves are always exact terms, so the resident
        # dictionary cache applies — a warm query plans job-free.
        meta = self._wand_meta_cached(
            sorted(set(scoring) | set(aux)))
        have_blocks = meta is not None
        if not have_blocks:
            # over the block-planning cap: chunk-granularity metadata
            # only (the cache never holds these)
            meta = (scan.select("field", "term", "shard", "doc_lo",
                                "doc_hi", "df", ub_raw)
                    .limit(self.WAND_MAX_CHUNKS + 1).collect())
        bases = self.handle.shard_bases
        if len(meta) > self.WAND_MAX_CHUNKS:
            # too many chunks to enumerate on the driver: distributed
            # planner (bounds as a pushed-down filter expression)
            return self._search_wand_big(node, k, limits, scoring, aux,
                                         scan, stats, avgdl)
        if not force and len(meta) < self.WAND_MIN_CHUNKS:
            return None

        # driver-side planning over chunk metadata (tiny)
        df_by_leaf: dict = {}
        for r in meta:
            key = (r["field"], r["term"])
            df_by_leaf[key] = df_by_leaf.get(key, 0) + r["df"]
        idf_by_leaf = {key: bm25_idf(stats["n_docs"], d)
                       for key, d in df_by_leaf.items()}
        # leaf -> [(shard, local doc_lo, GLOBAL lo, GLOBAL hi, ub)];
        # range logic must use globally-rebased doc coordinates or
        # shard-local ranges of a merged index would alias each other
        chunks: dict = {}
        for r in meta:
            key = (r["field"], r["term"])
            ub = idf_by_leaf[key] * (r["ub_raw"] or 0.0)
            base = int(bases.get(int(r["shard"]), 0)) if bases else 0
            chunks.setdefault(key, []).append(
                (int(r["shard"]), r["doc_lo"], r["doc_lo"] + base,
                 r["doc_hi"] + base, ub))
        scoring_set = set(scoring)
        gub = {key: max(c[4] for c in cl)
               for key, cl in chunks.items() if key in scoring_set}
        total_gub = sum(gub.values())

        required = _required_leaves(node) & set(chunks)
        ranges = {key: [(c[2], c[3]) for c in chunks[key]]
                  for key in required}

        def overlaps_required(key, lo, hi):
            for rk in required:
                if rk == key:
                    continue
                if not any(l2 <= hi and lo <= h2
                           for l2, h2 in ranges[rk]):
                    return False
            return True

        # seed: best-ub chunk per scoring leaf; for conjunctions also
        # every other required leaf's chunks overlapping the rarest
        # required leaf's best range (so the seed can produce matches)
        seed: set = set()
        for key in scoring_set & set(chunks):
            best = max(chunks[key], key=lambda c: c[4])
            seed.add((key, best[1]))
        if required:
            rare = min(required, key=lambda kk: df_by_leaf[kk])
            rbest = max(chunks[rare], key=lambda c: c[4])
            rlo, rhi = rbest[2], rbest[3]
            for key in required:
                for _, lo, glo, ghi, _ in chunks[key]:
                    if glo <= rhi and rlo <= ghi:
                        seed.add((key, lo))
        for key in set(chunks) - scoring_set:  # aux: decode fully
            for _, lo, _, _, _ in chunks[key]:
                seed.add((key, lo))
        # rare scoring leaves (df small enough to fit one chunk) seed
        # FULLY: their exact doc ids come back with the θ fetch and
        # turn the block planner's range bound for them into an exact
        # presence test — the batch analogue of DAAT pivoting. A rare
        # term's single 128-posting block spans nearly the whole doc
        # space, so its range-max ub would otherwise protect EVERY
        # head-term block from pruning (the corpus-v2 15%-pruned
        # plateau); with exact docs, head blocks not containing any
        # rare doc are bounded by their own ub alone and fall below a
        # θ set at the rare-term score level.
        rare_exact = {key for key in scoring_set & set(chunks)
                      if df_by_leaf.get(key, 0) <= self.RARE_EXACT_DF}
        if len(rare_exact) == len(set(scoring)):
            rare_exact = set()  # all-rare queries gain nothing
        for key in rare_exact:
            for _, lo, _, _, _ in chunks[key]:
                seed.add((key, lo))

        def scan_for(keys: set):
            cond = None
            by_leaf: dict = {}
            for (key, lo) in keys:
                by_leaf.setdefault(key, []).append(lo)
            for (field, term), los in by_leaf.items():
                c = ((F.col("term_bucket")
                      == term_bucket(term, self.n_buckets))
                     & (F.col("term") == term)
                     & (F.col("field") == field)
                     & F.col("doc_lo").isin(los))
                cond = c if cond is None else cond | c
            return self.handle.segments().filter(cond) if cond is not None \
                else None

        def decode_eval(sub_scan):
            return self._wand_decode_eval(node, sub_scan, df_by_leaf,
                                          k, limits)

        # θ seeding. Pure-OR trees (no required/aux leaves) take the
        # cheap path: collect the seed chunks' TF binaries (a few
        # hundred KB) and score them ON THE DRIVER with the kernel's
        # exact float64 BM25 expression — one tiny fetch instead of a
        # full decode+sort Spark job. Docs whose other-leaf postings
        # fall outside the seed score LOW, so θ only underestimates
        # (safe). Other tree shapes keep the Spark seed job.
        theta = 0.0
        # limits make the driver path unsafe: θ from docs a property
        # limit later removes could exceed the true k-th score of the
        # LIMITED result set and over-prune — the Spark seed job
        # applies limits inside _wand_decode_eval, so take it instead
        exact_docs: dict = {}
        theta_key = (repr(node), k) if not limits else None
        cached_theta = self._theta_cache.get(theta_key) \
            if theta_key is not None else None
        if cached_theta is not None:
            # warm repeat: the previous run's true k-th score is the
            # tightest lossless θ — no seed job at all. Rare-leaf doc
            # sets not yet cached (the Spark-seed first run doesn't
            # fetch them) come from the bounded driver-side _leaf_docs
            # fetch, so conjunction repeats warm up too, not only
            # pure-OR shapes.
            theta = cached_theta
            for kk in rare_exact:
                if kk not in self._rare_docs_cache:
                    ids = self._leaf_docs(*kk)
                    if ids is None:
                        continue
                exact_docs[kk] = self._rare_docs_cache[kk]
        elif not required and not aux and not limits \
                and len(seed) <= 64:
            theta, exact_docs = self._seed_theta_driver(
                scan_for(seed), idf_by_leaf, avgdl, k, bases,
                want_docs=rare_exact)
            # same bound as _leaf_docs: the exact-doc cache must not
            # grow without limit on a long-lived engine
            held = sum(len(v) for v in self._rare_docs_cache.values())
            add = sum(len(v) for v in exact_docs.values())
            if held + add > self._RARE_DOCS_CACHE_IDS:
                self._rare_docs_cache.clear()
            self._rare_docs_cache.update(exact_docs)
        else:
            seed_scan = scan_for(seed)
            if seed_scan is not None:
                seed_rows = (decode_eval(seed_scan)
                             .select("doc_id", "score")
                             .orderBy(F.desc("score"), F.asc("doc_id"))
                             .limit(k).collect())
                if len(seed_rows) == k:
                    theta = seed_rows[-1]["score"]

        # range-aware block planning (true Block-Max WAND): when the
        # chunk count is modest, use the 128-doc block bounds of the
        # scoring leaves (already in ``meta``) and bound each block
        # with the OTHER leaves' maxima over the SAME doc range
        # instead of their global upper bound — a rare high-idf term
        # then only protects the doc ranges it actually occupies,
        # instead of keeping every block of the head term alive (the
        # round-1 failure mode: 0 pruned).
        masks = None
        planned_pruned = 0
        block_total = 0
        if theta > 0.0 and have_blocks:
            masks, planned_pruned, block_total = \
                self._plan_block_masks(meta, scoring_set,
                                       idf_by_leaf, theta, avgdl,
                                       bases, exact_docs)

        keep: set = set()
        pruned = 0
        for key, cl in chunks.items():
            if key not in scoring_set:
                for _, lo, _, _, _ in cl:
                    keep.add((key, lo))
                continue
            others = total_gub - gub[key]
            for shard, lo, glo, ghi, ub in cl:
                if key in required and not overlaps_required(key, glo,
                                                             ghi):
                    pruned += 1
                    continue
                if masks is not None:
                    m = masks.get((key[0], key[1], shard, lo))
                    if m is not None and not m.any():
                        pruned += 1  # every block below θ: skip chunk
                        continue
                elif ub + others < theta:
                    pruned += 1
                    continue
                keep.add((key, lo))
        self.last_wand_stats = {
            "chunks_total": len(meta), "chunks_pruned": pruned,
            "theta": theta, "seed_chunks": len(seed),
            "block_plan": masks is not None,
            "blocks_total": block_total,
            "exact_leaves": len(exact_docs)}
        main_scan = scan_for(keep)
        if main_scan is None:
            self.last_wand_stats["blocks_pruned"] = planned_pruned
            return self.spark.createDataFrame([], "doc_id long, score double")
        # main pass: surviving chunks decode with BLOCK-granularity
        # skipping — via the precomputed range-aware masks when the
        # block planner ran, else against θ with global others
        acc = self.spark.sparkContext.accumulator(0)
        if masks is not None:
            prune = {"masks": masks}
        else:
            prune = {key: (idf_by_leaf[key], total_gub - gub[key])
                     for key in gub}
        out = (self._wand_decode_eval(node, main_scan, df_by_leaf,
                                      k, limits, prune, theta, acc)
               .select("doc_id", "score")
               .orderBy(F.desc("score"), F.asc("doc_id"))
               .limit(k))
        out = out.localCheckpoint()
        self.last_wand_stats["blocks_pruned"] = planned_pruned \
            if masks is not None else acc.value
        self.last_wand_stats["theta_cached"] = cached_theta is not None
        if theta_key is not None:
            # the checkpointed top-k is materialized: reading its k-th
            # score is a driver-local fetch, and it becomes the exact
            # lossless θ for the next identical query
            rows = out.collect()
            if len(rows) == k:
                self._remember_theta(theta_key, rows[-1]["score"])
        return out

    _THETA_CACHE_CAP = 65_536    # distinct (query, k) thresholds held
    _RARE_DOCS_CACHE_IDS = 8 << 20  # total cached rare-leaf doc ids

    def _remember_theta(self, theta_key, kth):
        """Record a completed top-k's true k-th score as the lossless
        θ for the same query later, backed off by a relative ulp
        margin: block bounds are computed in numpy while true scores
        come from the Spark float64 expression — a tie doc whose bound
        lands 1 ulp under its score must not be pruned."""
        if len(self._theta_cache) >= self._THETA_CACHE_CAP:
            self._theta_cache.clear()
        self._theta_cache[theta_key] = kth - max(1e-9, 1e-9 * abs(kth))

    WAND_BLOCK_PLAN_CHUNKS = 8192  # block-bound planning cap: block
                             # arrays are ~256 entries/chunk, so this
                             # bounds the planner collect at ~2M floats
    RARE_EXACT_DF = 4096     # scoring leaves at or below this df seed
                             # fully and plan with exact doc presence
                             # (one chunk; ≤32 KB of doc ids on the
                             # driver per leaf)
    EXH_ALLOW_MAX_DF = 262_144  # exhaustive-path allowlist cap: the
                             # rarest REQUIRED leaf's doc ids drive
                             # position materialization DAAT-style.
                             # Unlike WAND's exact planning, this pays
                             # even at head-term dfs — every phrase /
                             # NEAR / AND match contains the rarest
                             # leaf, so the other leaves' per-doc
                             # position arrays (the dominant cost)
                             # collapse to roughly the intersection.
                             # ~2 MB of int64 ids on the driver at cap.

    def _seed_theta_driver(self, seed_scan, idf_by_leaf, avgdl, k,
                           bases, want_docs=frozenset()):
        """θ for a pure-OR tree from a driver-side decode of the seed
        chunks: fetch their TF binaries (no positions/structures) and
        evaluate the kernel's exact BM25 expression in numpy,
        summing per doc across leaves. Returns (θ, exact_docs) where
        θ is the k-th best achieved score (0.0 when fewer than k docs
        are seen — pruning disabled, safe) and exact_docs maps each
        ``want_docs`` leaf to the sorted GLOBAL doc ids of its fetched
        postings (complete for fully-seeded rare leaves; the block
        planner uses them as an exact presence test)."""
        import numpy as np

        from ..codec.postings import unpack_posting_lists

        if seed_scan is None:
            return 0.0, {}
        rows = [r for r in seed_scan.select(
                    "field", "term", "shard", "docs_bin", "tfs_bin",
                    "dls_bin").collect()
                if (r["field"], r["term"]) in idf_by_leaf]
        if not rows:
            return 0.0, {}
        docs, tfs, _p, _s, dls, counts = unpack_posting_lists(
            [r["docs_bin"] for r in rows], [r["tfs_bin"] for r in rows],
            None, None, [r["dls_bin"] for r in rows],
            base=([int(bases.get(int(r["shard"]), 0)) for r in rows]
                  if bases else None))
        keys = [(r["field"], r["term"]) for r in rows]
        row_of = np.repeat(np.arange(len(rows)), counts)
        exact_docs = {}
        for key in want_docs:
            sel = [i for i, kk in enumerate(keys) if kk == key]
            if sel:
                exact_docs[key] = np.sort(docs[np.isin(row_of, sel)])
        idf = np.repeat([idf_by_leaf[kk] for kk in keys], counts)
        tf = tfs.astype(np.float64)
        dl = dls.astype(np.float64)
        scores = idf * (tf * (K1 + 1.0)) / (
            tf + K1 * (1.0 - B + B * dl / avgdl))
        uniq, inv = np.unique(docs, return_inverse=True)
        per_doc = np.zeros(len(uniq))
        np.add.at(per_doc, inv, scores)
        if len(per_doc) < k:
            return 0.0, exact_docs
        kth = float(np.partition(per_doc, -k)[-k])
        # relative ulp back-off: numpy-evaluated seed scores vs the
        # Spark float64 score expression can differ in the last ulp,
        # and a tied doc must survive pruning
        return kth - max(1e-9, 1e-9 * abs(kth)), exact_docs

    def _plan_block_masks(self, meta, scoring_set, idf_by_leaf,
                          theta, avgdl, bases, exact_docs=None):
        """Driver-side range-aware block planning over the already-
        collected chunk metadata: for every 128-posting block b of
        leaf t keep b iff  ub_t(b) + Σ_{u≠t} max ub_u over u's blocks
        intersecting b's doc range  >= θ.

        Leaves in ``exact_docs`` (fully-seeded rare terms) contribute
        by exact presence instead: ub_u if any of u's docs falls in
        b's range, else 0 — the batch analogue of DAAT pivoting past
        docs the rare term's pointer already skipped. Without it a
        rare term's single wide block protects every head block.

        Safety: a doc d in block b has true score ≤ that bound (every
        other leaf's contribution on d is ≤ its range max over b's
        range; for an exact leaf, 0 is exact when no u-doc is in the
        range, and d itself witnesses presence otherwise), so a
        dropped block cannot contain a top-k doc; docs partially
        scored because another leaf's block was dropped only score
        LOWER. Returns ({(field, term, shard, doc_lo): bool ndarray},
        blocks_pruned, blocks_total)."""
        import numpy as np

        exact_docs = exact_docs or {}

        rows = [r for r in meta
                if (r["field"], r["term"]) in scoring_set]
        # per-leaf flat block tables in GLOBAL doc coordinates
        per_leaf: dict = {}
        by_chunk: dict = {}
        for r in rows:
            key = (r["field"], r["term"])
            shard = int(r["shard"])
            base = int(bases.get(shard, 0)) if bases else 0
            btf = np.asarray(r["block_max_tf"], dtype=np.float64)
            bdl = np.asarray(r["block_min_dl"], dtype=np.float64)
            ub = idf_by_leaf[key] * (btf * (K1 + 1.0)) / (
                btf + K1 * (1.0 - B + B * bdl / avgdl))
            glo = np.asarray(r["block_doc_lo"], dtype=np.int64) + base
            ghi = np.asarray(r["block_doc_hi"], dtype=np.int64) + base
            per_leaf.setdefault(key, []).append((glo, ghi, ub))
            by_chunk[(key[0], key[1], shard, r["doc_lo"])] = \
                (key, glo, ghi, ub)
        flat = {}
        for key, parts in per_leaf.items():
            glo = np.concatenate([p[0] for p in parts])
            ghi = np.concatenate([p[1] for p in parts])
            ub = np.concatenate([p[2] for p in parts])
            order = np.argsort(glo, kind="stable")
            flat[key] = (glo[order], ghi[order], ub[order])

        def range_max_vec(ukey, glo_b, ghi_b):
            """Per-query-block max ub of leaf ``ukey`` over its blocks
            intersecting [glo_b[j], ghi_b[j]] — vectorized searchsorted
            over the whole chunk's block array (block doc ranges are
            disjoint and sorted; overlap counts are tiny because both
            sides are ~BLOCK_SIZE-doc spans, so counts >2 fall to a
            rare scalar loop)."""
            glo_u, ghi_u, ub_u = flat[ukey]
            n_u = len(ub_u)
            out = np.zeros(len(glo_b))
            if n_u == 0:
                return out
            i0 = np.searchsorted(ghi_u, glo_b, side="left")
            i1 = np.searchsorted(glo_u, ghi_b, side="right")
            cnt = i1 - i0
            one = cnt >= 1
            out[one] = ub_u[np.minimum(i0[one], n_u - 1)]
            two = cnt >= 2
            if two.any():
                out[two] = np.maximum(
                    out[two], ub_u[np.minimum(i0[two] + 1, n_u - 1)])
            for j in np.flatnonzero(cnt > 2):
                out[j] = ub_u[i0[j]:i1[j]].max()
            return out

        def exact_presence_vec(ukey, glo_b, ghi_b):
            """ub_u where any of u's exact docs lies in the query
            block's range, else 0 (sorted searchsorted probes)."""
            docs_u = exact_docs[ukey]
            ub_full = flat[ukey][2]
            ub_u = float(ub_full.max()) if len(ub_full) else 0.0
            i0 = np.searchsorted(docs_u, glo_b, side="left")
            i1 = np.searchsorted(docs_u, ghi_b, side="right")
            return np.where(i1 > i0, ub_u, 0.0)

        masks = {}
        pruned = total = 0
        for ckey, (key, glo, ghi, ub) in by_chunk.items():
            others = np.zeros(len(ub))
            for ukey in scoring_set:
                if ukey == key or ukey not in flat:
                    continue  # absent term: contributes exactly 0
                if ukey in exact_docs:
                    others += exact_presence_vec(ukey, glo, ghi)
                else:
                    others += range_max_vec(ukey, glo, ghi)
            m = (ub + others) >= theta
            masks[ckey] = m
            total += len(m)
            pruned += int((~m).sum())
        return masks, pruned, total

    def _wand_decode_eval(self, node, sub_scan, df_by_leaf, k, limits,
                          prune: dict | None = None,
                          theta: float = 0.0, acc=None):
        """Decode a chunk scan (TF-only) and score the query node with
        the batch kernel (prop limits applied there), keeping each
        partition's top-k — shared by both WAND planners. With
        ``prune``/``theta`` set, the decode kernel skips individual
        128-doc blocks whose score upper bound is below θ
        (_wand_block_kernel)."""
        from pyspark.sql import functions as F

        from .batch import score_decoded

        stats = self.handle.stats
        bases = self.handle.shard_bases
        if prune is not None:
            sub_scan = sub_scan.drop("pos_bin", "structs_bin")
            if "masks" in prune:
                # mask path decided per block on the driver — the
                # kernel does not re-derive bounds from block arrays
                sub_scan = sub_scan.drop(
                    "block_doc_lo", "block_doc_hi", "block_min_dl",
                    "block_max_tf")
            decoded = sub_scan.mapInPandas(
                lambda it: _wand_block_kernel(
                    it, prune, theta, max(stats["avgdl"], 1e-9),
                    bases, acc),
                schema=DECODED_SCHEMA)
        else:
            if bases:
                expr = F.lit(0).cast("long")
                for sid, b2 in bases.items():
                    expr = F.when(F.col("shard") == sid,
                                  F.lit(b2).cast("long")).otherwise(expr)
                sub_scan = sub_scan.withColumn("base", expr)
            decoded = (sub_scan.drop("pos_bin", "structs_bin",
                                     "block_doc_lo", "block_doc_hi",
                                     "block_max_tf", "block_min_dl")
                       .mapInPandas(
                           lambda it: _decode_kernel(it, False, None),
                           schema=DECODED_SCHEMA))
        return score_decoded(self, decoded, [("q", node)], df_by_leaf, k,
                             limits)

    def _search_wand_big(self, node, k, limits, scoring, aux, scan,
                         stats, avgdl):
        """Distributed block-max WAND for the many-chunks regime (a
        10^12-doc head term has millions of chunks): the driver only
        ever sees PER-TERM aggregates and one seed-chunk key per term —
        chunk pruning is a pushed-down filter EXPRESSION on the scan,
        so no chunk list is enumerated anywhere.

        1. one agg job: per (field, term) -> (df, max chunk ub);
        2. one window job: the single best-ub chunk key per scoring
           term -> seed decode (plus the full aux subtrees, which the
           main pass must decode anyway) -> threshold θ;
        3. main pass: keep chunk c of term t iff
           idf_t·ub_raw(c) + Σ_{t'≠t} gub_{t'} >= θ, evaluated JVM-side
           per row. Doc-range intersection pruning is skipped here (it
           needs chunk lists); the bound filter alone is safe for the
           same reason as the small planner.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        impact = lambda t, d: (t * (K1 + 1.0)) / (  # noqa: E731
            t + K1 * (1.0 - B + B * d / avgdl))
        ub_raw = F.array_max(F.zip_with(
            F.transform("block_max_tf", lambda x: x.cast("double")),
            F.transform("block_min_dl", lambda x: x.cast("double")),
            impact))

        per_leaf = (scan.groupBy("field", "term")
                    .agg(F.sum("df").alias("df"),
                         F.max(ub_raw).alias("gub_raw")).collect())
        if not per_leaf:
            return self.spark.createDataFrame([], "doc_id long, score double")
        df_by_leaf = {(r["field"], r["term"]): r["df"] for r in per_leaf}
        idf_by_leaf = {key: bm25_idf(stats["n_docs"], d)
                       for key, d in df_by_leaf.items()}
        scoring_set = set(scoring) & set(df_by_leaf)
        gub = {key: idf_by_leaf[key] * (r["gub_raw"] or 0.0)
               for key, r in ((key, r) for r in per_leaf
                              for key in [(r["field"], r["term"])])
               if key in scoring_set}
        total_gub = sum(gub.values())

        # rare scoring leaves plan with exact doc presence here too:
        # their doc ids fit the driver no matter how many chunks the
        # HEAD terms have (the fetch is term-filtered and df-capped),
        # so the 10^12-doc path gets the same DAAT-style pruning as
        # the enumerating planner instead of letting one scattered
        # rare term's global bound protect every head block
        rare_exact = {key for key in scoring_set
                      if df_by_leaf.get(key, 0) <= self.RARE_EXACT_DF}
        if len(rare_exact) == len(scoring_set):
            rare_exact = set()
        rare_docs = {}
        for key in rare_exact:
            ids = self._leaf_docs(*key)
            if ids is not None:
                rare_docs[key] = ids

        w = Window.partitionBy("field", "term").orderBy(
            F.desc(ub_raw), F.asc("doc_lo"))
        seed_keys = (scan.withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") == 1)
                     .select("field", "term", "doc_lo").collect())
        seed_cond = None
        for r in seed_keys:
            key = (r["field"], r["term"])
            if key not in scoring_set:
                continue
            c = ((F.col("term_bucket")
                  == term_bucket(r["term"], self.n_buckets))
                 & (F.col("term") == r["term"])
                 & (F.col("field") == r["field"]))
            if key not in rare_docs:
                # head leaves seed their best chunk; rare leaves seed
                # fully so θ lands at the rare-term score level
                c = c & (F.col("doc_lo") == r["doc_lo"])
            seed_cond = c if seed_cond is None else seed_cond | c
        aux_set = set(df_by_leaf) - scoring_set
        for field, term in aux_set:  # full aux decode (needed anyway)
            c = ((F.col("term_bucket")
                  == term_bucket(term, self.n_buckets))
                 & (F.col("term") == term) & (F.col("field") == field))
            seed_cond = c if seed_cond is None else seed_cond | c

        theta = 0.0
        theta_key = (repr(node), k) if not limits else None
        cached_theta = self._theta_cache.get(theta_key) \
            if theta_key is not None else None
        if cached_theta is not None:
            theta = cached_theta  # warm repeat: skip the seed job
        elif seed_cond is not None:
            seed_rows = (self._wand_decode_eval(
                node, self.handle.segments().filter(seed_cond),
                df_by_leaf, k, limits)
                .select("doc_id", "score")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k).collect())
            if len(seed_rows) == k:
                theta = seed_rows[-1]["score"]

        # per-row bound expression: scoring leaves get
        # idf*ub_raw + others; aux leaves always pass
        bound = F.lit(float("inf"))
        for key in scoring_set:
            field, term = key
            others = total_gub - gub[key]
            bound = F.when((F.col("field") == field)
                           & (F.col("term") == term),
                           F.lit(idf_by_leaf[key]) * ub_raw
                           + F.lit(others)).otherwise(bound)
        main_scan = scan.filter(bound >= F.lit(theta))
        self.last_wand_stats = {"mode": "distributed", "theta": theta,
                                "seed_chunks": len(seed_keys),
                                "exact_leaves": len(rare_docs)}
        acc = self.spark.sparkContext.accumulator(0)
        # kernel bounds: head leaves carry the other HEAD leaves' gub
        # statically plus each rare leaf as (sorted docs, gub) for the
        # per-block presence test; rare leaves decode fully (tiny).
        # The JVM pre-filter above keeps the conservative global bound
        # (>= the kernel's refined bound), so it stays lossless.
        rare_gub = sum(gub[key] for key in rare_docs if key in gub)
        rare_list = tuple((rare_docs[key], gub[key])
                          for key in sorted(rare_docs) if key in gub)
        prune = {}
        for key in gub:
            if key in rare_docs:
                continue  # rare leaves: always fully decoded
            others_static = total_gub - gub[key] - rare_gub
            prune[key] = (idf_by_leaf[key], others_static, rare_list)
        out = (self._wand_decode_eval(node, main_scan, df_by_leaf,
                                      k, limits, prune, theta, acc)
               .select("doc_id", "score")
               .orderBy(F.desc("score"), F.asc("doc_id"))
               .limit(k))
        out = out.localCheckpoint()
        self.last_wand_stats["blocks_pruned"] = acc.value
        self.last_wand_stats["theta_cached"] = cached_theta is not None
        if theta_key is not None:
            rows = out.collect()
            if len(rows) == k:
                self._remember_theta(theta_key, rows[-1]["score"])
        return out

    # ---- evaluation ----

    def search_df(self, q: str, k: int = 10, structure_mask=None,
                  limits: dict | None = None, wand: str = "auto"):
        """Returns a DataFrame (doc_id, score) of the top-k.

        ``wand``: "auto" applies block-max pruning when the query shape
        allows it and the index is big enough; "force" always tries;
        "off" always takes the exhaustive path.
        """
        from pyspark.sql import functions as F

        from .batch import evaluate

        self.handle.ensure_current()  # stale caches must error, not lie
        node = parse_query(q, self.cfg,
                           phrase_delim=self.phrase_delim)
        if structure_mask is None and wand in ("auto", "force"):
            pruned = self._search_wand(node, k, limits,
                                       force=(wand == "force"))
            if pruned is not None:
                return pruned
        return (evaluate(self, [("q", node)], k, structure_mask, limits)
                .select("doc_id", "score")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def search(self, q: str, k: int = 10, structure_mask=None,
               limits: dict | None = None):
        """Top-k as [(doc_id, score)] — the oracle-comparable surface.

        Answered in-process from the resident copy of the index when
        the engine holds one and the query has no property limits;
        otherwise through the Spark plan of ``search_df``.
        ``last_search_path`` records which ran."""
        self.handle.ensure_current()  # stale caches must error, not lie
        node = parse_query(q, self.cfg, phrase_delim=self.phrase_delim)
        if self._resident is not None and not limits:
            self.last_search_path = "resident"
            return self._search_resident(node, k, structure_mask)
        self.last_search_path = "spark"
        if k >= 1 << 20:
            # huge k = "all matches": avoid TakeOrdered's per-task O(k)
            # buffer AND driver-side sorting — the range-partitioned
            # Spark sort stays distributed; only the final iteration
            # materializes (callers wanting to stay distributed use
            # match_df directly)
            from pyspark.sql import functions as F

            from itertools import islice

            df = (self.match_df(q, structure_mask, limits)
                  .orderBy(F.desc("score"), F.asc("doc_id")))
            return [(r["doc_id"], r["score"])
                    for r in islice(df.toLocalIterator(), k)]
        rows = self.search_df(q, k, structure_mask, limits).collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    def _search_resident(self, node, k: int, structure_mask):
        """Top-k of a parsed query from the resident index, with no
        Spark job: look up the leaves' chunk rows, decode them with
        ``_decode_kernel`` (structure mask applied there), drop
        tombstoned docs, take df from the decoded counts (as
        ``_term_stats`` does when tombstones or a mask change df) and
        score with the batch kernel as a single partition, whose output
        is already in (score desc, doc_id asc) order."""
        import numpy as np

        from .batch import (
            PRESENCE, _batch_kernel, _collect_expandables, _expansion_key,
            _has_not, _is_positional, _query_leaves,
        )

        res = self._resident
        self.last_exh_stats = None
        expansions = {}
        wild: list = []
        _collect_expandables(node, wild)
        for nd in wild:
            expansions[_expansion_key(nd)] = _expand_sorted(
                res.terms.get(nd.field, []), nd)
        rows = [res.rows[leaf]
                for leaf in sorted(_query_leaves(node, expansions))
                if leaf in res.rows]
        decoded = None
        if rows:
            need_pos = _is_positional(node)
            cols = ["field", "term", "base", "docs_bin", "tfs_bin",
                    "dls_bin"]
            if need_pos or structure_mask is not None:
                cols.append("pos_bin")
            if structure_mask is not None:
                cols.append("structs_bin")
            chunks = res.chunks.take(np.concatenate(rows)).select(cols)
            decoded = next(_decode_kernel([chunks.to_pandas()], need_pos,
                                          structure_mask), None)
        if decoded is not None and len(res.removed):
            decoded = decoded[~np.isin(decoded["doc_id"].to_numpy(),
                                       res.removed)]
        dfs = {} if decoded is None else {
            key: int(df) for key, df in
            decoded.groupby(["field", "term"], sort=False).size().items()}
        if _has_not(node):
            # unary NOT: one presence row per live doc, as in
            # batch.evaluate (pd.concat drops a None decoded)
            decoded = pd.concat([decoded, pd.DataFrame({
                "field": PRESENCE[0], "term": PRESENCE[1],
                "doc_id": res.doc_ids, "tf": 0, "dl": res.doc_len,
                "positions": None, "structs": None})], ignore_index=True)
        if decoded is None:
            return []
        out = next(_batch_kernel([decoded], [("q", node)], dfs,
                                 self.handle.stats, expansions, k),
                   None)
        if out is None:
            return []
        return [(int(d), float(s))
                for d, s in zip(out["doc_id"], out["score"])]

    def search_batch(self, queries, k: int = 10):
        """Top-k of N queries in ONE shared pipeline (query/batch.py):
        one pruned segment scan + one decode + one doc_id shuffle for
        the whole battery. Returns DataFrame (query_id, doc_id, score)
        rank-identical to per-query search_df."""
        from .batch import search_batch

        return search_batch(self, queries, k)

    def match_df(self, q: str, structure_mask=None,
                 limits: dict | None = None):
        """All matching (doc_id, score) rows, unranked — for match-set
        queries where top-k pruning is not wanted."""
        from .batch import evaluate

        self.handle.ensure_current()  # stale caches must error, not lie
        node = parse_query(q, self.cfg,
                           phrase_delim=self.phrase_delim)
        return evaluate(self, [("q", node)], None, structure_mask,
                        limits).select("doc_id", "score")
