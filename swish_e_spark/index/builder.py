"""Distributed inverted-index builder — the Spark rebuild of swish-e's
index path (cmd_index lifecycle, SURVEY.md §3.1).

Pipeline (one extraction pass per shard, per the north rule):

1. **Shard slicing** — the pages table is split into S url-range shards
   (boundaries sampled once, persisted in the manifest). Each shard is
   built and committed independently; a completed shard is never
   recomputed (checkpoint/resume ≈ the reference's atomic temp-file
   rename, /root/reference/src/config.h:107-129).
2. **Extract + tokenize** (`mapInPandas`, Arrow-batched): HTML/XML/TXT →
   per-doc row with nested postings. Dense doc_ids ordered by url are
   assigned from per-partition offsets computed over the *persisted*
   stage output, so the assignment is exact regardless of partitioner
   sampling: doc_id = shard_base + offset[pid] + local_idx.
3. **Partial pack** (map-side combine): within each partition, posting
   rows are packed into compressed chunk rows per (term, field) — the
   analogue of the reference's per-10k-doc chunk coalescing
   (coalesce_word_locations, /root/reference/src/index.c:2811-2994).
   Every flush packs all its accumulated lists in one batch codec call
   (``pack_posting_lists``), not one call per list. Head terms thus
   ship as O(partitions) packed chunks, not O(docs) rows.
4. **Salted merge shuffle**: chunks shuffle on (term_bucket, salt) where
   heavy partial chunks get a spreading salt and light ones salt 0, so
   Zipf-head terms fan out across reducers while tail-term fragments
   consolidate (two-level combine-then-merge; north rule skew handling).
   The merge kernel rebases a chunk that stands alone in O(1) (only
   its first docID delta is absolute) and coalesces small adjacent
   chunks with one batch unpack and one batch pack per Arrow batch.
5. **Segment write**: parquet partitioned by term_bucket, rows sorted by
   (term, field, chunk_doc_lo) — term lookups prune on the bucket
   directory plus parquet min/max on term (the Spark equivalent of the
   reference's word-hash + sorted word list,
   /root/reference/src/search.c:1618-1629).

Every kernel is an Arrow-batched pandas iterator; there is no
row-at-a-time Python UDF and no driver-side collect of data rows.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import time
import zlib
from dataclasses import asdict, dataclass
from functools import cached_property
from itertools import chain

import numpy as np
import pandas as pd

from ..codec.postings import pack_posting_lists, unpack_posting_lists
from ..textproc.extractor import extract
from ..textproc.pathparts import merge_path_postings
from ..textproc.tokenizer import TokenizerConfig, tokenize_doc

DOCS_SCHEMA_COLS = ["doc_id", "url", "title", "doc_len", "size",
                    "warc_ts", "description", "lang", "extra_pos"]

# extra_pos = posting positions beyond doc_len for this doc (ExtractPath
# words, metaname fan-out, dual fuzzy codes): the reference's scheme-1
# TotalWordPos counts ADDENTRY calls (index.c:1298), so the corpus
# total is Σ(doc_len + extra_pos) while the per-doc word count used by
# the length reductions stays doc_len (TotalWordsPerFile). Old indexes
# read null here (treated as 0).
DOCS_SCHEMA = ("doc_id long, url string, title string, doc_len long, "
               "size long, warc_ts timestamp, description string, "
               "lang string, extra_pos long")


def docs_schema(cfg) -> str:
    """Docs-table read/write schema: the fixed built-in columns plus
    one typed column per declared user property (PropertyNames —
    string properties as string, numeric/date as long epoch). Real
    columns, not a map: parquet min/max pushdown then prunes -L
    property-range scans at the row-group level."""
    from ..textproc.docprops import specs_of

    specs = specs_of(getattr(cfg, "properties", ()))
    extra = "".join(f", `{s.column}` {s.spark_type}"
                    for s in specs.values())
    return DOCS_SCHEMA + extra

TERMS_SCHEMA = "term_bucket int, term string, field string, df long, cf long"

CHUNK_SCHEMA = (
    "term_bucket int, term string, field string, doc_lo long, doc_hi long, "
    "df long, cf long, docs_bin binary, tfs_bin binary, dls_bin binary, "
    "pos_bin binary, structs_bin binary, block_doc_lo array<long>, "
    "block_doc_hi array<long>, block_max_tf array<int>, "
    "block_min_dl array<int>"
)

# one staged union row type: kind=0 doc rows, kind=1 locally-packed
# chunk rows (doc ids local to the partition; rebased at merge).
# User properties travel as ONE static json column (props_json) so the
# staged schema stays config-independent; the final docs write explodes
# it into typed per-property columns (docs_schema).
STAGED_SCHEMA = (
    "kind int, pid int, local_idx long, url string, title string, "
    "doc_len long, size long, warc_ts timestamp, description string, "
    "lang string, props_json string, extra_pos long, " + CHUNK_SCHEMA
)


@dataclass
class IndexConfig:
    n_buckets: int = 16          # term-hash segment partitions
    chunk_docs: int = 32768      # max postings per chunk row
    salt_partitions: int = 8     # reducer fan-out for heavy chunks
    salt_threshold: int = 4096   # partial df at/above which salt applies
    stem: bool = False
    fuzzy: str = ""              # ""/"none"/"porter"/"soundex"/"metaphone"
                                 # (FuzzyIndexingMode,
                                 #  /root/reference/src/stemmer.c:117-145)
    index_comments: bool = False
    index_links: bool = False    # a@href -> "links" metaname
    index_alt: bool = False      # img alt -> "alt" metaname
    xml_attributes: bool = False       # <foo bar=v> -> foo.bar metaname
    xml_class_attributes: bool = False  # <foo class=c> content -> foo.c
    xml_nested_metanames: bool = False  # token indexes under EVERY open tag
    metanames: tuple | None = None      # MetaNames declaration; None =
                                        # auto (every meta/xml tag is a
                                        # searchable field — the
                                        # UndefinedMetaTags=auto
                                        # analogue). Explicit tuple =
                                        # reference semantics: only
                                        # declared names become fields,
                                        # everything else indexes as
                                        # plain swishdefault text
    dont_bump_tags: tuple = ()          # DontBumpPositionOnMetaTags
    buzzwords: tuple = ()
    stopwords: tuple | None = None  # None = DEFAULT_STOPWORDS
    word_chars: str | None = None   # WordCharacters
    ignore_first_chars: str = ""    # IgnoreFirstChar
    ignore_last_chars: str = ""     # IgnoreLastChar
    use_words: tuple | None = None  # UseWords allowlist
    number_chars: str = ""          # NumberChars
    begin_chars: str = ""           # BeginCharacters
    end_chars: str = ""             # EndCharacters
    translate_from: str = ""  # TranslateCharacters source chars; with
    translate_to: str = ""    # the parallel targets ("" = no fold,
                              # the reference default; ":ascii7:" =
                              # the accent-fold table — directive
                              # /root/reference/src/index.c:2632,
                              # table /root/reference/src/swish.h:580)
    min_word_len: int | None = None  # MinWordLimit / MaxWordLimit
    max_word_len: int | None = None  # (/root/reference/src/config.h:203)
    max_consec: int | None = None    # isokword sanity limits
    max_repeat: int | None = None    # (/root/reference/src/check.c:56-150)
    file_filters: tuple = ()  # ((pattern, filter_name), ...) document
                              # filters (FileFilter/FileFilterMatch,
                              # /root/reference/src/filter.c:266-301)
                              # applied in-process inside the extract
                              # kernel — sources/filters.py registry
    title_reject_rules: tuple = ()  # FileRules title regexes: a doc
                              # whose parsed title matches any is
                              # skipped AFTER extraction, where the
                              # reference evaluates it (fs.c title
                              # check after parse; only knowable
                              # post-parse, unlike path rules)
    meta_aliases: tuple = ()  # ((alias, base), ...) MetaNameAlias:
                              # both sides resolve alias -> base
                              # (getMetaNameByName follows ->alias,
                              # /root/reference/src/metanames.c:347)
    ignore_meta_tags: tuple = ()  # IgnoreMetaTags: section content
                              # dropped, tag bumps stay
                              # (/root/reference/src/parser.c:994,1171)
    links_field: str = "links"     # HTMLLinksMetaName target
    images_field: str | None = None  # ImageLinksMetaName: <img src>
                              # under this metaname when set
                              # (/root/reference/src/parser.c:653)
    alt_field: str | None = "alt"  # IndexAltTagMetaName; None =
                              # "as-text" (alt joins the open run,
                              # /root/reference/src/parser.c:1800)
    absolute_links: bool = False  # AbsoluteLinks: fix up href/src
                              # against <base> or the doc url; OFF
                              # indexes them verbatim (parser.c:1845)
    truncate_doc_size: int | None = None  # TruncateDocSize: byte cap
                              # on the content handed to the parser
                              # (/root/reference/src/parse_conffile.c:
                              # 1223; applied at read, fs.c)
    extract_path: tuple = ()  # ((metaname, (op, args...)), ...) —
                              # ExtractPath (textproc/pathparts.py)
    extract_path_defaults: tuple = ()  # ((metaname, default), ...)
    properties: tuple = ()    # user doc properties (PropertyNames
                              # family): PropSpec tuples
                              # (textproc/docprops.py) — typed docs
                              # columns prop_<name>
    prop_aliases: tuple = ()  # ((alias, base), ...) PropertyNameAlias
    obey_robots_noindex: bool = True  # obeyRobotsNoIndex — engine
                              # default True (web pipeline); the
                              # BINARY defaults no (parser.c:1507)
    store_description: tuple = ()  # ((doctype, tag|None, size|None),
                              # ...) StoreDescription: description =
                              # text under <tag> byte-capped at size
                              # (summary capture, parser.c:1631-1639);
                              # () keeps the body-prefix default
    bump_pos_chars: str = ""  # BumpPositionCounterCharacters
    ignore_total_word_count: bool = True  # IgnoreTotalWordCount-
                              # WhenRanking (reference default yes,
                              # /root/reference/src/swish.c init) —
                              # recorded in the manifest; -R 0 reads
                              # it, -R 1 refuses a yes-index
    rank_biases: tuple = ()   # ((metaname, bias), ...) with bias in
                              # [-10, 10] — metaEntry rank_bias for the
                              # swish-compat rank schemes (MetaNamesRank,
                              # /root/reference/src/swish.h:367,378;
                              # applied /root/reference/src/rank.c:394,574)
    flush_docs: int = 10000      # map-side combine flush interval
                                 # (INDEX_DEFAULT_CHUNK_SIZE,
                                 #  /root/reference/src/config.h:346)
    bytes_per_partition: int = 5 << 20  # extract-stage granularity;
                                 # derived from INPUT DATA SIZE so the
                                 # plan shape is identical at any core
                                 # count (≈6k docs of ~850B compressed)

    def tokenizer_config(self) -> TokenizerConfig:
        from ..textproc.stopwords import DEFAULT_STOPWORDS

        extra = {}
        if self.translate_from == ":ascii7:":
            from ..textproc.tokenizer import ASCII7_TRANSLATE

            extra["translate"] = ASCII7_TRANSLATE
        elif self.translate_from:
            extra["translate"] = str.maketrans(self.translate_from,
                                               self.translate_to)
        if self.bump_pos_chars:
            extra["bump_pos_chars"] = self.bump_pos_chars
        if self.meta_aliases:
            # MetaNameAlias reaches the query parser through the
            # manifest-persisted tokenizer config (field= resolution,
            # /root/reference/src/metanames.c:347-358)
            extra["meta_aliases"] = tuple(
                (str(a), str(b)) for a, b in self.meta_aliases)
        for knob in ("min_word_len", "max_word_len", "max_consec",
                     "max_repeat"):
            val = getattr(self, knob)
            if val is not None:
                extra[knob] = int(val)
        return TokenizerConfig(
            stem=self.stem,
            fuzzy=self.fuzzy,
            buzzwords=frozenset(self.buzzwords),
            stopwords=(DEFAULT_STOPWORDS if self.stopwords is None
                       else frozenset(self.stopwords)),
            word_chars=self.word_chars,
            ignore_first_chars=self.ignore_first_chars,
            ignore_last_chars=self.ignore_last_chars,
            use_words=(None if self.use_words is None
                       else frozenset(self.use_words)),
            number_chars=self.number_chars,
            begin_chars=self.begin_chars,
            end_chars=self.end_chars,
            **extra,
        )


def term_bucket(term: str, n_buckets: int) -> int:
    """Deterministic term → bucket hash, identical on build and query
    side (crc32 is stable across platforms/Python versions)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def doctype_of_url(url: str) -> str:
    if url.endswith(".txt") or "/txt/" in url:
        return "txt"
    if url.endswith(".xml") or "/xml/" in url:
        return "xml"
    return "html"


# --------------------------------------------------------------------
# Stage kernels (executed on executors via mapInPandas)
# --------------------------------------------------------------------

_CHUNK_COLS = [c.rsplit(" ", 1)[0].split(" ")[0].strip()
               for c in CHUNK_SCHEMA.split(", ")]
_INT_CHUNK_COLS = {"term_bucket", "doc_lo", "doc_hi", "df", "cf"}
_STAGED_COLS = [c.rsplit(" ", 1)[0].split(" ")[0].strip()
                for c in STAGED_SCHEMA.split(", ")]
_N_DOC_COLS = 12  # kind..extra_pos prefix of STAGED_SCHEMA


def _extract_pack_iter(batches, cfg: IndexConfig):
    """Stage-2 kernel: pages → doc rows + locally-packed chunk rows, in
    ONE pass. Postings accumulate in an in-memory (field, term) hash —
    the ENTRY-hash analogue (getentry/addentry,
    /root/reference/src/index.c:1237-1407) — and are packed (compressed)
    with LOCAL doc ids every ``flush_docs`` documents, mirroring the
    reference's 10k-doc chunk coalescing
    (/root/reference/src/index.c:1997-2071, config.h:346). Local doc ids
    are rebased to global dense ids at the merge stage in O(1) per chunk
    (only the first docID delta is absolute)."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    tok_cfg = cfg.tokenizer_config()
    acc: dict = {}
    local_idx = 0
    since_flush = 0
    def flush_chunks():
        """Pack every accumulated (field, term) list in ONE batch codec
        call → columnar chunk frame (column lists, not per-row tuples)."""
        nonlocal since_flush
        n = len(acc)
        slots = acc.values()
        counts = np.fromiter((len(s[0]) for s in slots), dtype=np.int64,
                             count=n)
        ids = np.fromiter(chain.from_iterable(s[0] for s in slots),
                          dtype=np.int64, count=int(counts.sum()))
        packed = pack_posting_lists(
            ids,
            np.fromiter(chain.from_iterable(s[1] for s in slots),
                        dtype=np.int64, count=ids.size),
            np.fromiter(chain.from_iterable(s[2] for s in slots),
                        dtype=np.int64),
            np.frombuffer(b"".join(s[3] for s in slots), dtype=np.uint8),
            np.fromiter(chain.from_iterable(s[4] for s in slots),
                        dtype=np.int64, count=ids.size),
            counts)
        ends = np.cumsum(counts)
        cols = {c: [None] * n for c in _STAGED_COLS}
        cols["kind"] = [1] * n
        cols["pid"] = [pid] * n
        cols["field"] = [f for f, _ in acc]
        cols["term"] = [t for _, t in acc]
        cols["term_bucket"] = [term_bucket(t, cfg.n_buckets)
                               for t in cols["term"]]
        cols["doc_lo"] = ids[ends - counts]
        cols["doc_hi"] = ids[ends - 1]
        cols.update(packed)
        acc.clear()
        since_flush = 0
        return pd.DataFrame(cols, columns=_STAGED_COLS)

    doc_col_names = _STAGED_COLS[:_N_DOC_COLS]
    dcols = {c: [] for c in doc_col_names}
    filter_rules = None
    if cfg.file_filters:
        from ..sources.filters import compile_rules
        filter_rules = compile_rules(cfg.file_filters)
    title_rejects = [re.compile(rx) for rx in cfg.title_reject_rules]
    from ..textproc.docprops import finalize_all, specs_of
    prop_specs = specs_of(cfg.properties)
    prop_names = frozenset(prop_specs)
    prop_alias_map = dict(cfg.prop_aliases)
    store_desc_map = {dt: (tag, size)
                      for dt, tag, size in cfg.store_description}
    for pdf in batches:
        # optional per-page doctype override (prog Document-Type
        # header, sources/progfile.py; extprog.c:400-412) — absent or
        # null falls back to url-suffix detection
        doctypes = (pdf["doctype"] if "doctype" in pdf.columns
                    else [None] * len(pdf))
        no_contents = (pdf["no_contents"]
                       if "no_contents" in pdf.columns
                       else [False] * len(pdf))
        for url, html, warc_ts, lang, dt, nc in zip(
                pdf["url"], pdf["html"], pdf["warc_ts"], pdf["lang"],
                doctypes, no_contents):
            blob = bytes(html) if html is not None else b""
            source_size = len(blob)  # reference stores the ORIGINAL
            # input size, not the filtered size (fprop->source_size,
            # /root/reference/src/extprog.c:308)
            eff_url = url
            if filter_rules:
                from ..sources.filters import apply_filters
                blob, eff_url = apply_filters(url, blob, filter_rules)
            if cfg.truncate_doc_size is not None:
                # TruncateDocSize: hard byte cap on what the parser
                # sees — the reference cuts mid-word and indexes the
                # partial word (verified: 14-byte cap over
                # 'aaa bbb ccc ddd…' indexes 'dd')
                blob = blob[:cfg.truncate_doc_size]
            if nc:
                # No-Contents: index only the title (HTML) or the url
                # itself, structure IN_FILE (index_no_content,
                # /root/reference/src/index.c:497-533)
                from ..textproc.extractor import (
                    DEFAULT_FIELD, Event, ExtractedDoc, IN_FILE)

                dtype = dt or doctype_of_url(eff_url)
                t = extract(blob, doctype="html").title \
                    if dtype == "html" else ""
                doc = ExtractedDoc(title=t, events=[
                    Event(DEFAULT_FIELD, t if t else url, IN_FILE, 0)])
                blob = b""  # content itself is not parsed further
            else:
                dtype = dt or doctype_of_url(eff_url)
                sd_extra = {}
                sd = store_desc_map.get(dtype)
                if sd is not None and dtype != "txt":
                    sd_extra = {"description_tag": sd[0],
                                "description_size": sd[1]}
                doc = extract(
                    blob, doctype=dtype,
                    index_comments=cfg.index_comments,
                    index_links=cfg.index_links,
                    index_alt=cfg.index_alt,
                    xml_attributes=cfg.xml_attributes,
                    xml_class_attributes=cfg.xml_class_attributes,
                    xml_nested_metanames=cfg.xml_nested_metanames,
                    dont_bump_tags=frozenset(cfg.dont_bump_tags),
                    metanames=(None if cfg.metanames is None
                               else frozenset(cfg.metanames)),
                    meta_aliases=dict(cfg.meta_aliases),
                    ignore_meta_tags=frozenset(cfg.ignore_meta_tags),
                    links_field=cfg.links_field,
                    images_field=cfg.images_field,
                    alt_field=cfg.alt_field,
                    absolute_links=cfg.absolute_links,
                    doc_url=eff_url,
                    properties=prop_names,
                    prop_aliases=prop_alias_map,
                    obey_robots_noindex=cfg.obey_robots_noindex,
                    **sd_extra)
                if sd is not None and dtype == "txt":
                    # StoreDescription TXT n: first n bytes of the
                    # text stream
                    doc.description = doc.body_text()[:sd[1]]
            if doc.noindex:
                continue
            if title_rejects and any(rx.search(doc.title)
                                     for rx in title_rejects):
                continue  # FileRules title (post-parse, fs.c)
            postings, doc_len = tokenize_doc(doc, tok_cfg)
            if cfg.extract_path:
                merge_path_postings(postings, eff_url,
                                    cfg.extract_path,
                                    cfg.extract_path_defaults, tok_cfg)
            for key, p in postings.items():
                slot = acc.get(key)
                if slot is None:
                    slot = acc[key] = ([], [], [], bytearray(), [])
                slot[0].append(local_idx)
                slot[1].append(len(p.positions))
                slot[2].extend(p.positions)
                slot[3].extend(p.structures)
                slot[4].append(doc_len)
            pj = None
            if prop_specs:
                vals = finalize_all(doc.prop_chunks, prop_specs)
                if vals:
                    pj = json.dumps(vals, separators=(",", ":"))
            # addentry-call count beyond doc_len (path words, fan-out,
            # dual fuzzy codes) — scheme-1's corpus TotalWordPos
            extra_pos = sum(len(p.positions)
                            for p in postings.values()) - doc_len
            for c, v in zip(doc_col_names,
                            (0, pid, local_idx, url, doc.title, doc_len,
                             source_size, warc_ts, doc.description,
                             lang, pj, extra_pos)):
                dcols[c].append(v)
            local_idx += 1
            since_flush += 1
            if since_flush >= cfg.flush_docs:
                yield flush_chunks()
        if dcols["url"]:
            frame = pd.DataFrame(dcols, columns=doc_col_names)
            for c in _STAGED_COLS[_N_DOC_COLS:]:
                frame[c] = None
            yield frame
            dcols = {c: [] for c in doc_col_names}
    if acc:
        yield flush_chunks()


def _rebase_docs_bin(buf, base: int) -> bytes:
    """Add ``base`` to the (absolute) first docID of a packed doc-delta
    stream — O(1) global rebasing of a locally-packed chunk."""
    buf = bytes(buf)
    i = 0
    while buf[i] & 0x80:
        i += 1
    first = 0
    for shift, b in enumerate(buf[:i + 1]):
        first |= (b & 0x7F) << (7 * shift)
    first += base
    head = bytearray()
    while first >= 0x80:
        head.append((first & 0x7F) | 0x80)
        first >>= 7
    head.append(first)
    return bytes(head) + buf[i + 1:]


def _rows_frame(rows) -> pd.DataFrame:
    """Chunk-row tuples (_CHUNK_COLS order) → frame, built one typed
    column at a time: pandas' per-row object inference of a tuple list
    costs more than the merge kernel's codec calls."""
    return pd.DataFrame({
        c: (np.array(v, dtype=np.int64) if c in _INT_CHUNK_COLS
            else pd.Series(v, dtype=object))
        for c, v in zip(_CHUNK_COLS, zip(*rows))})


def _merge_chunks_iter(batches, cfg: IndexConfig):
    """Stage-4 kernel: partial chunks sorted by (term, field, doc_lo) →
    coalesced final chunks. Small adjacent chunks of one (term, field)
    are grouped up to chunk_docs postings, and every multi-chunk group
    of a batch is decoded and re-packed by ONE batch codec call each
    way; chunks already ≥ chunk_docs/2 (and lone small ones) pass
    through with an O(1) docID rebase (sort-merge consolidation, the -M
    merge analogue, reference src/merge.c). Rows travel as
    tuples in _CHUNK_COLS + [base] order; doc_lo/doc_hi and block bound
    columns are already global (rebased JVM-side); the binary streams
    carry partition-local ids until here."""
    half = cfg.chunk_docs // 2
    BASE = len(_CHUNK_COLS)  # index of the base column
    key = None
    buf: list = []  # the open group; may continue into the next batch
    buf_docs = 0
    out: list = []
    groups: list = []  # (slot in out, rows) of multi-chunk groups

    def flush_buf():
        nonlocal buf, buf_docs
        if len(buf) == 1:
            r = buf[0]
            out.append((*r[:7], _rebase_docs_bin(r[7], int(r[BASE])),
                        *r[8:BASE]))
        elif buf:
            groups.append((len(out), buf))
            out.append(None)
        buf, buf_docs = [], 0

    def repack_groups():
        """Fill the ``out`` slots of this batch's groups: one unpack of
        all their chunks (rebased), one pack of the merged lists."""
        rows = [r for _, g in groups for r in g]
        d, t, p, s, dl, counts = unpack_posting_lists(
            *[[r[i] for r in rows] for i in (7, 8, 10, 11, 9)],
            base=[int(r[BASE]) for r in rows])
        sizes = np.fromiter((len(g) for _, g in groups), dtype=np.int64,
                            count=len(groups))
        gcounts = np.add.reduceat(counts, np.cumsum(sizes) - sizes)
        packed = pack_posting_lists(d, t, p, s, dl, gcounts)
        ends = np.cumsum(gcounts)
        lo, hi = d[ends - gcounts].tolist(), d[ends - 1].tolist()
        cols = [packed[c] for c in _CHUNK_COLS[5:]]
        for j, (slot, g) in enumerate(groups):
            out[slot] = (*g[0][:3], lo[j], hi[j],
                         *(c[j] for c in cols))
        groups.clear()

    in_cols = _CHUNK_COLS + ["base"]
    for pdf in batches:
        arrays = [pdf[c].to_numpy() for c in in_cols]
        for rec in zip(*arrays):
            k = (rec[1], rec[2])
            if k != key:
                flush_buf()
                key = k
            df = rec[5]
            if df >= half:
                flush_buf()
                out.append((*rec[:7],
                            _rebase_docs_bin(rec[7], int(rec[BASE])),
                            *rec[8:BASE]))
                continue
            if buf_docs + df > cfg.chunk_docs:
                flush_buf()
            buf.append(rec)
            buf_docs += df
        if groups:
            repack_groups()
        # the open group's slot comes after everything emitted so far
        if out:
            yield _rows_frame(out)
            out = []
    flush_buf()
    if groups:
        repack_groups()
    if out:
        yield _rows_frame(out)


# --------------------------------------------------------------------
# Driver orchestration
# --------------------------------------------------------------------

def _plan_partitions(df, cfg: IndexConfig, n_shards: int = 1) -> int:
    """Extract-stage partition count from input bytes (driver-side file
    metadata, no job). Falls back to a count() for non-file sources.

    The data term dominates at scale (100 TB ⇒ tens of thousands of
    partitions); the defaultParallelism floor only engages when the
    input is small relative to the cluster, so one tiny corpus still
    saturates every core while the same big input yields the same plan
    shape at any core count."""
    total = 0
    try:
        for uri in df.inputFiles():
            path = uri[7:] if uri.startswith("file://") else \
                uri[5:] if uri.startswith("file:") else uri
            total += os.path.getsize(path)
    except Exception:
        total = 0
    if total <= 0:
        rows = df.count()
        total = rows * 850  # ≈ compressed bytes/doc of web pages
    raw = total / max(n_shards, 1) / max(cfg.bytes_per_partition, 1)
    floor = max(8, df.sparkSession.sparkContext.defaultParallelism)
    return int(min(32768, max(floor, round(raw / 8) * 8)))


def _manifest_dir(out_dir):
    return os.path.join(out_dir, "_manifest")


def _atomic_write_json(path: str, obj) -> None:
    tmp = path + ".temp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)  # the reference's .temp-rename discipline


def _snapshots_dir(out_dir):
    return os.path.join(_manifest_dir(out_dir), "snapshots")


def list_snapshots(out_dir) -> list[int]:
    """Committed snapshot versions still on disk, ascending."""
    d = _snapshots_dir(out_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def _list_removed_files(index_dir) -> list[str]:
    """Relative paths of the tombstone parquet part files currently on
    disk — recorded into the manifest ``files`` section at commit time
    (removed/ is append-only between commits, and Spark part file
    names are task-UUID-unique, so the listing is a stable set)."""
    root = os.path.join(index_dir, "removed")
    if not os.path.isdir(root):
        return []
    return sorted("removed/" + n for n in os.listdir(root)
                  if n.startswith("part-"))


class ConcurrentMutation(RuntimeError):
    """Another writer committed since this mutation read the manifest
    — committing would silently discard its snapshot (lost update)."""


def check_not_raced(index_dir: str, meta: dict) -> None:
    """Best-effort lost-update detection: the on-disk current snapshot
    must still be the one this mutation loaded. Mutations assume a
    single writer per index (as the reference does per index file);
    this check turns a violated assumption into a loud
    ConcurrentMutation instead of a silently dropped commit. It is
    advisory — a plain filesystem has no compare-and-swap, so a race
    inside the check→rename window is still possible; a real
    deployment swaps ``_atomic_write_json`` for a catalog CAS (the
    Iceberg commit protocol) and keeps everything else."""
    path = os.path.join(_manifest_dir(index_dir), "index.json")
    if not os.path.exists(path):
        return  # fresh target (initial build, merge tmp dir)
    disk = json.load(open(path)).get("snapshot", 0)
    if int(disk) != int(meta.get("snapshot", 0)):
        raise ConcurrentMutation(
            f"index at {index_dir}: manifest moved to snapshot {disk} "
            f"while this mutation was based on "
            f"{meta.get('snapshot', 0)}; reload and retry")


def commit_manifest(index_dir: str, meta: dict) -> dict:
    """Commit a manifest version: bump the snapshot counter and write
    BOTH ``index.json`` (the mutable current pointer) and an immutable
    ``snapshots/v{N}.json`` copy — the Iceberg snapshot-commit model.

    ``meta['files']`` pins the exact data dirs and tombstone files of
    the version, so readers resolve data THROUGH the manifest and a
    retired generation left on disk for time travel is never
    double-read. Metadata stays O(shards), not O(data files): at
    100 TB each snapshot json is a few KB and the commit is one
    driver-side rename, never a Spark job."""
    check_not_raced(index_dir, meta)
    meta["snapshot"] = int(meta.get("snapshot", 0)) + 1
    # immutable copy FIRST: a crash between the two writes must never
    # leave a committed current version whose snapshot manifest is
    # missing (as-of reads of it would fail forever). The reverse
    # orphan — a v{N}.json with index.json still at N-1 — is benign:
    # the next commit re-bumps to N and atomically overwrites it, and
    # every commit_manifest call site runs only after its data files
    # are fully committed, so an orphan never pins missing data.
    os.makedirs(_snapshots_dir(index_dir), exist_ok=True)
    _atomic_write_json(os.path.join(_snapshots_dir(index_dir),
                                    f"v{meta['snapshot']}.json"), meta)
    _atomic_write_json(os.path.join(_manifest_dir(index_dir),
                                    "index.json"), meta)
    return meta


def shard_boundaries(pages_df, n_shards: int):
    """Url-range shard boundaries from a seeded UNIFORM sample
    (driver-side, tiny). Returns sorted list of n_shards-1 boundary
    urls. The fraction targets ~400k rows; sample().limit() would take
    a partition-order prefix instead (url-sorted inputs would collapse
    every boundary into the first partitions' url range)."""
    if n_shards <= 1:
        return []
    n = pages_df.count()  # parquet: metadata-only
    frac = min(1.0, 400_000 / max(n, 1))
    sample = [r.url for r in
              pages_df.select("url").sample(frac, seed=42).collect()]
    if len(sample) < n_shards:
        sample = [r.url for r in pages_df.select("url").collect()]
    sample.sort()
    step = len(sample) / n_shards
    return [sample[int(step * i)] for i in range(1, n_shards)]


def build_index(spark, pages_df, out_dir: str,
                cfg: IndexConfig | None = None,
                n_shards: int = 1, resume: bool = True,
                fail_after_shard: int | None = None):
    """Build the full inverted index at ``out_dir``.

    ``fail_after_shard`` aborts after committing shard i (kill/resume
    tests). Returns the manifest dict.
    """
    from pyspark.sql import functions as F

    from ..shipping import ship_package

    ship_package(spark)
    cfg = cfg or IndexConfig()
    if cfg.file_filters:
        # resolve filter names on the DRIVER: a config typo must fail
        # at plan time, not per-document on a thousand executors
        from ..sources.filters import compile_rules
        compile_rules(cfg.file_filters)
    os.makedirs(_manifest_dir(out_dir), exist_ok=True)
    index_meta_path = os.path.join(_manifest_dir(out_dir), "index.json")

    if resume and os.path.exists(index_meta_path):
        meta = json.load(open(index_meta_path))
        if meta.get("complete"):
            return meta
        bounds = meta["shard_bounds"]
        # the manifest wins over caller args on resume: shards already
        # on disk were cut at ITS bounds with ITS config — honoring a
        # different retry n_shards would silently drop shard ranges
        n_shards = int(meta.get("n_shards", n_shards))
        cfg = IndexConfig(**meta["config"])
    else:
        bounds = shard_boundaries(pages_df, n_shards)
        meta = {"config": asdict(cfg), "n_shards": n_shards,
                "shard_bounds": bounds, "complete": False}
        # a fresh build invalidates any prior run's shard manifests —
        # left behind, a later resume would "skip" shards whose data
        # belongs to the OLD input under the NEW bounds
        for p in glob.glob(os.path.join(_manifest_dir(out_dir),
                                        "shard_*.json")):
            os.remove(p)
        # ... and any prior snapshot chain: the old versions reference
        # data this rebuild is about to replace
        shutil.rmtree(_snapshots_dir(out_dir), ignore_errors=True)
        _atomic_write_json(index_meta_path, meta)

    doc_base = 0
    total = {"docs": 0, "tokens": 0, "postings": 0}
    # plan once: the partition count is invariant across the shard loop
    # (for non-file sources each call is a full count() job)
    n_parts = _plan_partitions(pages_df, cfg, n_shards)
    for shard_id in range(n_shards):
        shard_path = os.path.join(_manifest_dir(out_dir),
                                  f"shard_{shard_id}.json")
        if resume and os.path.exists(shard_path):
            sm = json.load(open(shard_path))
            doc_base += sm["doc_count"]
            for k in total:
                total[k] += sm.get(k.rstrip("s") + "_count",
                                   sm.get(k + "_count", 0))
            continue
        lo = bounds[shard_id - 1] if shard_id > 0 else None
        hi = bounds[shard_id] if shard_id < len(bounds) else None
        shard_df = pages_df
        if lo is not None:
            shard_df = shard_df.filter(F.col("url") >= lo)
        if hi is not None:
            shard_df = shard_df.filter(F.col("url") < hi)
        sm = _build_shard(spark, shard_df, out_dir, cfg, shard_id,
                          doc_base, n_parts)
        _atomic_write_json(shard_path, sm)
        doc_base += sm["doc_count"]
        total["docs"] += sm["doc_count"]
        total["tokens"] += sm["token_count"]
        total["postings"] += sm["posting_count"]
        if fail_after_shard is not None and shard_id == fail_after_shard:
            raise RuntimeError(f"injected failure after shard {shard_id}")

    meta.update(
        complete=True, doc_count=total["docs"],
        token_count=total["tokens"],
        posting_count=total["postings"],
        next_shard_id=n_shards,
        files={
            "docs": [f"docs/shard={i}" for i in range(n_shards)],
            "segments": [f"segments/shard={i}" for i in range(n_shards)],
            "terms": [f"terms/shard={i}" for i in range(n_shards)],
            "removed": [],
        })
    commit_manifest(out_dir, meta)
    return meta


def _build_shard(spark, shard_df, out_dir, cfg: IndexConfig,
                 shard_id: int, doc_base: int,
                 n_parts: int | None = None):
    from pyspark.sql import functions as F

    t0 = time.time()
    prof = os.environ.get("SWISH_PROFILE")
    marks = [("start", time.time())]

    def mark(name):
        if prof:
            marks.append((name, time.time()))
    # Partition count derives from DATA SIZE only — the same input
    # yields the same plan shape at local[2] and local[32] (scan-split
    # counts vary with defaultParallelism, so they are NOT used).
    # File sizes come from driver-side metadata (no Spark job), and the
    # result is rounded to a multiple of 8 so task waves divide evenly
    # into any executor count; at 100 TB n_parts is simply
    # bytes/bytes_per_partition and the rounding is noise.
    if n_parts is None:
        n_parts = _plan_partitions(shard_df, cfg)
    mark("plan_parts")

    # single extraction pass: doc rows + locally-packed chunks, staged
    # to parquet (columnar checkpoint). Downstream jobs (stats, docs,
    # chunks) re-read it with column pruning and vectorized scans —
    # measurably faster and far more stable than block-manager caching
    # at high core counts, and the natural shape at 100 TB (the staging
    # write is the recovery point of the shard).
    sorted_pages = (shard_df
                    .repartitionByRange(n_parts, "url")
                    .sortWithinPartitions("url"))
    stage_tmp = os.path.join(out_dir, f"_tmp_staged_{shard_id}")
    (sorted_pages.mapInPandas(
        lambda it: _extract_pack_iter(it, cfg), schema=STAGED_SCHEMA)
     .write.mode("overwrite").parquet(stage_tmp))
    # explicit schema: a shard whose every page is robots-noindex (or an
    # empty url range) writes zero data files, and inference would fail
    staged = spark.read.schema(STAGED_SCHEMA).parquet(stage_tmp)

    mark("extract")  # the staged extract+pack write

    # dense doc_id = doc_base + offset[pid] + local_idx, offsets computed
    # over the staged output (exact, partitioner-independent)
    stat_rows = (staged.groupBy("kind", "pid")
                 .agg(F.count("*").alias("cnt"),
                      F.sum("doc_len").alias("tok"),
                      F.sum("df").alias("post")).collect())
    counts = {r["pid"]: r["cnt"] for r in stat_rows if r["kind"] == 0}
    token_count = int(sum(r["tok"] or 0 for r in stat_rows
                          if r["kind"] == 0))
    posting_count = int(sum(r["post"] or 0 for r in stat_rows
                            if r["kind"] == 1))
    mark("counts")
    offsets, acc = {}, doc_base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    doc_count = acc - doc_base
    offs_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()] or [(0, doc_base)],
        "pid int, base long")

    # docs table (+ typed user-property columns exploded from the
    # staged props_json — real columns give parquet min/max pushdown
    # for -L property ranges)
    docs = (staged.filter(F.col("kind") == 0)
            .join(F.broadcast(offs_df), "pid")
            .withColumn("doc_id", F.col("base") + F.col("local_idx")))
    prop_cols = []
    if cfg.properties:
        from ..textproc.docprops import specs_of

        specs = list(specs_of(cfg.properties).values())
        struct = ", ".join(f"`{s.column}` {s.spark_type}"
                           for s in specs)
        docs = docs.withColumn(
            "_pj", F.from_json("props_json", f"struct<{struct}>"))
        prop_cols = [F.col(f"_pj.{s.column}").alias(s.column)
                     for s in specs]
    docs = docs.select(*DOCS_SCHEMA_COLS, *prop_cols)
    docs_tmp = os.path.join(out_dir, f"_tmp_docs_{shard_id}")

    # chunk rows: rebase ranges JVM-side, salted merge shuffle, rebase
    # binary streams in the merge kernel
    chunks = (staged.filter(F.col("kind") == 1)
              .join(F.broadcast(offs_df), "pid")
              .withColumn("doc_lo", F.col("doc_lo") + F.col("base"))
              .withColumn("doc_hi", F.col("doc_hi") + F.col("base"))
              .withColumn("block_doc_lo", F.transform(
                  "block_doc_lo", lambda x: x + F.col("base")))
              .withColumn("block_doc_hi", F.transform(
                  "block_doc_hi", lambda x: x + F.col("base")))
              .select(*_CHUNK_COLS, "base"))
    n_reduce = max(cfg.n_buckets, n_parts)
    salted = chunks.withColumn(
        "salt",
        F.when(F.col("df") >= cfg.salt_threshold,
               F.pmod(F.xxhash64("term", "doc_lo"),
                      F.lit(cfg.salt_partitions)))
        .otherwise(F.lit(0)))
    merged = (salted
              .repartition(n_reduce, "term_bucket", "salt")
              .drop("salt")
              .sortWithinPartitions("term", "field", "doc_lo")
              .mapInPandas(lambda it: _merge_chunks_iter(it, cfg),
                           schema=CHUNK_SCHEMA))
    seg_tmp = os.path.join(out_dir, f"_tmp_segments_{shard_id}")

    # terms summary table — the sorted word-list analogue
    # (/root/reference/src/index.c:1965-1992): per-(term, field) df/cf;
    # the query compiler prunes prefix scans to exact buckets with it.
    # Summed over the staged PARTIAL chunks (each (doc, term, field)
    # lives in exactly one partial, so Σdf/Σcf equal the merged
    # totals), via a column-pruned scan of 5 tiny columns — which lets
    # the terms job run CONCURRENTLY with the docs/segments writes
    # instead of serially after the segment commit.
    terms_tmp = os.path.join(out_dir, f"_tmp_terms_{shard_id}")
    terms_df = (staged.filter(F.col("kind") == 1)
                .groupBy("term_bucket", "term", "field")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .sortWithinPartitions("term"))

    # all three outputs consume the staged checkpoint — run them as
    # concurrent jobs so their stage and commit latencies overlap
    import threading

    errs: list = []
    wtimes: dict = {}

    def _w(fn, name="write"):
        t = time.time()
        try:
            fn()
        except BaseException as e:  # surfaced below
            errs.append(e)
        wtimes[name] = round(time.time() - t, 2)

    threads = [
        threading.Thread(target=_w, args=(
            lambda: docs.write.mode("overwrite").parquet(docs_tmp),
            "docs")),
        threading.Thread(target=_w, args=(
            lambda: (merged.write.mode("overwrite")
                     .partitionBy("term_bucket").parquet(seg_tmp)),
            "segs")),
        threading.Thread(target=_w, args=(
            lambda: terms_df.write.mode("overwrite").parquet(terms_tmp),
            "terms")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    _commit_dir(docs_tmp, os.path.join(out_dir, "docs",
                                       f"shard={shard_id}"))
    _commit_dir(seg_tmp,
                os.path.join(out_dir, "segments", f"shard={shard_id}"))
    _commit_dir(terms_tmp,
                os.path.join(out_dir, "terms", f"shard={shard_id}"))
    shutil.rmtree(stage_tmp, ignore_errors=True)
    mark("writes")
    if prof:
        import sys as _sys
        steps = {marks[i][0]: round(marks[i][1] - marks[i-1][1], 2)
                 for i in range(1, len(marks))}
        print(f"PROFILE shard={shard_id} {steps} writes={wtimes} "
              f"n_parts={n_parts}", file=_sys.stderr)
    return {
        "shard_id": shard_id, "doc_base": doc_base,
        "doc_count": int(doc_count), "token_count": int(token_count),
        "posting_count": int(posting_count),
        "input_partitions": n_parts, "wall_s": round(time.time() - t0, 2),
    }


def _commit_dir(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(final)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.replace(tmp, final)


# --------------------------------------------------------------------
# Read-side helpers
# --------------------------------------------------------------------

class IndexHandle:
    """Open index: lazy docs/segments DataFrames + global stats.

    ``snapshot=N`` opens the index AS OF committed snapshot ``N``
    (time travel): the immutable ``snapshots/v{N}.json`` manifest pins
    the exact data dirs/files of that version, so later mutations —
    including a compaction that retired this version's generation —
    are invisible. A snapshot handle stays valid until
    ``expire_snapshots`` garbage-collects its version."""

    def __init__(self, spark, out_dir: str, snapshot: int | None = None):
        self.spark = spark
        self.out_dir = out_dir
        self.snapshot = snapshot
        if snapshot is None:
            self._manifest_path = os.path.join(_manifest_dir(out_dir),
                                               "index.json")
        else:
            self._manifest_path = os.path.join(
                _snapshots_dir(out_dir), f"v{int(snapshot)}.json")
            if not os.path.exists(self._manifest_path):
                raise ValueError(
                    f"snapshot v{snapshot} of {out_dir} does not exist "
                    "(never committed, or expired by expire_snapshots);"
                    f" available: {list_snapshots(out_dir)}")
        self.meta = json.load(open(self._manifest_path))
        if not self.meta.get("complete"):
            raise ValueError(f"index at {out_dir} is incomplete")
        self.cfg = IndexConfig(**self.meta["config"])
        self._stats = None
        self._resident = None
        st = os.stat(self._manifest_path)
        self._manifest_sig = (st.st_mtime_ns, st.st_size)

    def ensure_current(self):
        """Fail loudly if the index was mutated after this handle was
        opened. Every in-place maintenance op (update/remove/compact/
        IgnoreLimit) atomically rewrites index.json, and the query
        engine keeps lossless per-handle caches (dictionary, θ, rare
        docs) that would silently serve stale results otherwise —
        one os.stat per query buys a hard error instead.

        A snapshot handle's manifest is immutable, so the same check
        instead detects only its expiry (file deleted by
        expire_snapshots — the data files may be gone with it)."""
        try:
            st = os.stat(self._manifest_path)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig != self._manifest_sig:
            if self.snapshot is not None:
                raise RuntimeError(
                    f"snapshot v{self.snapshot} of {self.out_dir} was "
                    "expired; its data files may be deleted")
            raise RuntimeError(
                f"index at {self.out_dir} changed since this handle "
                "was opened; build a new IndexHandle/SparkQueryEngine "
                "(engine caches are per-handle)")

    def _read_listed(self, sub: str, schema):
        """Resolve a data table THROUGH the manifest ``files`` list —
        never a root glob: time-travel generations coexist on disk and
        globbing would double-read them. basePath keeps the
        shard=/term_bucket= partition columns identical to a root
        read. (Root-glob fallback only for pre-snapshot manifests.)"""
        root = os.path.join(self.out_dir, sub)
        files = (self.meta.get("files") or {}).get(sub)
        if files is None:
            return self.spark.read.schema(schema).parquet(root)
        paths = [os.path.join(self.out_dir, f) for f in files]
        return (self.spark.read.schema(schema)
                .option("basePath", root).parquet(*paths))

    def docs(self):
        # explicit schemas throughout: empty shards write no data files
        # and schema inference would fail on a 0-doc index; the schema
        # includes any user-property columns declared at build time
        return self._read_listed("docs", docs_schema(self.cfg))

    def removed(self):
        """Tombstoned doc_ids (index/maintenance.py) or None."""
        files = (self.meta.get("files") or {}).get("removed")
        if files is not None:
            if not files:
                return None
            return (self.spark.read
                    .schema("doc_id long, url string")
                    .option("basePath",
                            os.path.join(self.out_dir, "removed"))
                    .parquet(*[os.path.join(self.out_dir, f)
                               for f in files]))
        path = os.path.join(self.out_dir, "removed")
        if not os.path.isdir(path):
            return None
        return self.spark.read.parquet(path)

    def live_docs(self):
        """Docs net of tombstones — the deleted-doc filter
        (/root/reference/src/search.c:1789)."""
        docs = self.docs()
        removed = self.removed()
        if removed is None:
            return docs
        return docs.join(removed.select("doc_id"), "doc_id", "left_anti")

    @property
    def shard_bases(self) -> dict:
        """Per-shard doc_id rebase offsets for merged indexes
        ({} = ids are already global)."""
        return {int(k): int(v) for k, v in
                self.meta.get("shard_bases", {}).items()}

    def segments(self):
        # term_bucket resolves from the partition directories; putting
        # it in the schema keeps the column present even for an empty
        # index (no term_bucket dirs to discover)
        return self._read_listed("segments", CHUNK_SCHEMA)

    def terms(self):
        """(term_bucket, term, field, df, cf) summary — word-list
        lookups and prefix-scan planning."""
        return self._read_listed("terms", TERMS_SCHEMA)

    @property
    def stats(self):
        """Corpus stats net of tombstones, so BM25 after an update or
        merge matches a from-scratch rebuild of the surviving docs."""
        if self._stats is None:
            from pyspark.sql import functions as F

            row = self.live_docs().agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("total_len"),
                F.sum(F.coalesce(F.col("extra_pos"),
                                 F.lit(0))).alias("extra")).collect()[0]
            n = row["n"] or 0
            self._stats = {
                "n_docs": int(n),
                "avgdl": float(row["total_len"] / n) if n else 0.0,
                "total_len": int(row["total_len"] or 0),
                # Σ(doc_len + extra_pos) over LIVE docs — the
                # reference's TotalWordPos counts ADDENTRY calls
                # (index.c:1298: path words, fan-out, dual fuzzy codes
                # included), which scheme-1 divides by
                # (/root/reference/src/rank.c:638-648)
                "total_pos": int((row["total_len"] or 0)
                                 + (row["extra"] or 0)),
            }
        return self._stats

    def _listed_files(self, sub: str) -> list:
        """(path, {partition column: value}) of every parquet part file
        of a data table, resolved through the manifest exactly as
        ``_read_listed`` resolves it for Spark: listed dirs are walked,
        listed files taken as-is, ``_``/``.``-prefixed names (commit
        markers, checksums) skipped, and ``key=value`` path segments
        below the table root become partition values."""
        root = os.path.join(self.out_dir, sub)
        listed = (self.meta.get("files") or {}).get(sub)
        if listed is None:  # pre-snapshot manifest: the whole root
            listed = [sub] if os.path.isdir(root) else []
        out = []
        for rel in listed:
            path = os.path.join(self.out_dir, rel)
            if os.path.isfile(path):
                walk = [(os.path.dirname(path), [],
                         [os.path.basename(path)])]
            elif os.path.isdir(path):
                walk = os.walk(path)
            else:
                raise FileNotFoundError(path)
            for dp, dirs, names in walk:
                dirs[:] = sorted(d for d in dirs
                                 if not d.startswith(("_", ".")))
                for name in sorted(names):
                    if name.startswith(("_", ".")):
                        continue
                    full = os.path.join(dp, name)
                    segs = os.path.relpath(full, root).split(os.sep)[:-1]
                    out.append((full, dict(s.split("=", 1)
                                           for s in segs if "=" in s)))
        return out

    def resident(self, max_bytes: int):
        """Driver-memory view of this handle (``ResidentIndex``), or
        None when the on-disk segment files exceed ``max_bytes``.
        Opening it reads only the docs and tombstone tables and sets
        ``stats`` from them with the same formulas as the Spark job, so
        a resident handle runs no Spark job at all; the segment chunks
        load on first use. Opened once per handle and shared by its
        engines. A stale handle raises as in ``ensure_current``."""
        self.ensure_current()
        if self._resident is None:
            seg_files = self._listed_files("segments")
            disk_bytes = sum(os.path.getsize(p) for p, _ in seg_files)
            if disk_bytes > max_bytes:
                return None
            self._resident = self._open_resident(seg_files, disk_bytes)
        return self._resident if self._resident.disk_bytes <= max_bytes \
            else None

    def _open_resident(self, seg_files, disk_bytes: int):
        import pyarrow.compute as pc

        def ints(tables, col):
            """int64 column over all files; null or absent reads 0."""
            parts = [pc.fill_null(t.column(col), 0).to_numpy().astype(
                         np.int64) if col in t.column_names
                     else np.zeros(t.num_rows, dtype=np.int64)
                     for t, _ in tables]
            return np.concatenate(parts) if parts else \
                np.zeros(0, dtype=np.int64)

        docs = _read_parquet(self._listed_files("docs"),
                             ["doc_id", "doc_len", "extra_pos"])
        removed = np.unique(ints(_read_parquet(
            self._listed_files("removed"), ["doc_id"]), "doc_id"))
        doc_ids = ints(docs, "doc_id")
        doc_len = ints(docs, "doc_len")
        extra = ints(docs, "extra_pos")
        if len(removed):
            live = ~np.isin(doc_ids, removed)
            doc_ids, doc_len, extra = \
                doc_ids[live], doc_len[live], extra[live]
        if self._stats is None:
            n = len(doc_len)
            total_len = int(doc_len.sum())
            self._stats = {
                "n_docs": n,
                "avgdl": float(total_len / n) if n else 0.0,
                "total_len": total_len,
                "total_pos": total_len + int(extra.sum()),
            }
        return ResidentIndex(seg_files, self.shard_bases, removed,
                             doc_ids, doc_len, disk_bytes)


def _read_parquet(files, cols):
    """[(Arrow table of ``cols`` present in the file, partition values)]
    for ``_listed_files`` output."""
    import pyarrow.parquet as pq

    out = []
    for path, parts in files:
        pf = pq.ParquetFile(path)
        names = pf.schema_arrow.names
        out.append((pf.read(columns=[c for c in cols if c in names]),
                    parts))
    return out


RESIDENT_CHUNK_COLS = ["field", "term", "docs_bin", "tfs_bin", "dls_bin",
                       "pos_bin", "structs_bin"]


class ResidentIndex:
    """One handle's posting chunks held in driver memory as Arrow, for
    in-process queries (the reference opens its index once per handle,
    src/db_native.c).

    ``chunks``: one row per segment chunk — field, term, the five
    posting binaries and ``base`` (the chunk's shard rebase offset).
    ``rows``: (field, term) -> chunk row indices. ``terms``: field ->
    sorted terms, for prefix and pattern expansion. These three load
    on first use. ``removed``: sorted tombstoned doc ids. ``doc_ids``,
    ``doc_len``: the live docs and their lengths, which unary NOT
    evaluates over. ``disk_bytes``: size of the segment files."""

    def __init__(self, seg_files, bases: dict, removed: np.ndarray,
                 doc_ids: np.ndarray, doc_len: np.ndarray,
                 disk_bytes: int):
        self._seg_files = seg_files
        self._bases = bases
        self.removed = removed
        self.doc_ids = doc_ids
        self.doc_len = doc_len
        self.disk_bytes = disk_bytes

    @cached_property
    def chunks(self):
        import pyarrow as pa

        tables = []
        for t, parts in _read_parquet(self._seg_files, RESIDENT_CHUNK_COLS):
            base = self._bases.get(int(parts.get("shard", 0)), 0)
            tables.append(t.select(RESIDENT_CHUNK_COLS).append_column(
                "base", pa.array(np.full(t.num_rows, base,
                                         dtype=np.int64))))
        if tables:
            # one contiguous array per column: take() over a table of
            # per-file chunks costs milliseconds per query
            return pa.concat_tables(tables).combine_chunks()
        return pa.table(
            {c: pa.array([], pa.string() if c in ("field", "term")
                         else pa.binary())
             for c in RESIDENT_CHUNK_COLS}
            | {"base": pa.array([], pa.int64())})

    @cached_property
    def rows(self) -> dict:
        rows: dict = {}
        for i, key in enumerate(zip(
                self.chunks.column("field").to_pylist(),
                self.chunks.column("term").to_pylist())):
            rows.setdefault(key, []).append(i)
        return rows

    @cached_property
    def terms(self) -> dict:
        by_field: dict = {}
        for field, term in self.rows:
            by_field.setdefault(field, []).append(term)
        return {f: sorted(ts) for f, ts in by_field.items()}


def generate_pages_df(spark, n_docs: int, partitions: int = 32):
    """Distributed deterministic pages table (datagen.pages, parallelized
    with mapInPandas over a range — every row is a pure function of its
    doc_index, FIXTURES.md §1)."""
    from ..shipping import ship_package

    ship_package(spark)

    def gen(batches):
        from ..datagen.pages import generate_rows

        for pdf in batches:
            for start, end in zip(pdf["start"], pdf["end"]):
                rows = list(generate_rows(n_docs, int(start), int(end)))
                if rows:
                    yield pd.DataFrame(rows)[
                        ["url", "warc_ts", "html", "text", "lang"]]

    step = math.ceil(n_docs / partitions)
    ranges = [(i, min(i + step, n_docs)) for i in range(0, n_docs, step)]
    rdf = spark.createDataFrame(ranges, "start long, end long") \
        .repartition(len(ranges))
    return rdf.mapInPandas(
        gen, schema="url string, warc_ts timestamp, html binary, "
                    "text string, lang string")
