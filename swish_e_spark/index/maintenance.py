"""Index lifecycle maintenance — merge (-M), incremental update (-u)
and remove (-r), re-expressed for Spark/Iceberg-style storage.

Reference semantics:
- merge (-M): k-way merge of indexes, deduping docs by path with the
  NEWEST winning, renumbering filenums, concatenating worddata
  (merge_indexes, /root/reference/src/merge.c:77-400).
- update/remove (-u/-r): replace or delete docs by path; older versions
  are skipped at search time (check_for_replace
  /root/reference/src/index.c:824-922, deleted-doc filter
  /root/reference/src/search.c:1789).

Spark-first design: the reference rewrites the whole index file; at
100 TB that is a non-starter. Here a merge/update is a METADATA
operation in the style of an Iceberg snapshot commit:

- each source index (or update batch) becomes one or more shards of the
  result; posting binaries are NEVER rewritten — every shard gets a
  ``doc_base`` recorded in the manifest, and the query-side decode
  kernel adds the base to decoded doc ids (O(1) per chunk, same trick
  the builder uses for partition-local ids).
- superseded/removed docs become TOMBSTONES in a ``removed`` parquet
  table; the executor anti-joins them out (the deleted-doc filter),
  and index stats (N, avgdl) are computed net of tombstones so BM25
  scores match a from-scratch rebuild of the surviving docs exactly
  (given equal per-doc tf/dl, which posting data preserves).
- ``compact()`` is the optional heavyweight rewrite (Iceberg
  RewriteDataFiles analogue): decode → drop tombstoned docs → repack.

The docs tables are small relative to postings and ARE rewritten with
rebased ids (they carry no positional binaries).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from ..codec.postings import pack_posting_lists, unpack_posting_lists
from .builder import (
    _CHUNK_COLS,
    CHUNK_SCHEMA,
    DOCS_SCHEMA,
    IndexConfig,
    IndexHandle,
    _atomic_write_json,
    _build_shard,
    _list_removed_files,
    _manifest_dir,
    _plan_partitions,
    _snapshots_dir,
    check_not_raced,
    commit_manifest,
    list_snapshots,
    term_bucket,
)

REMOVED_SCHEMA = "doc_id long, url string"


def _copy_tree(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copytree(src, dst)


def _load_meta(d: str) -> dict:
    return json.load(open(os.path.join(_manifest_dir(d), "index.json")))


def merge_indexes(spark, src_dirs: list[str], out_dir: str):
    """Merge k complete indexes into ``out_dir``. Later sources win on
    duplicate urls (newest-wins, /root/reference/src/merge.c:77-400).
    Posting binaries are copied untouched; doc ids are rebased via
    per-shard ``doc_base`` manifest entries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    metas = [_load_meta(d) for d in src_dirs]
    for m, d in zip(metas, src_dirs):
        if not m.get("complete"):
            raise ValueError(f"source index {d} is incomplete")
    # semantic config compatibility: segments are copied verbatim, so
    # sources hashed/tokenized differently would be silently
    # unsearchable under the merged manifest's single config (bucket
    # pruning filters on term_bucket(term, n_buckets); stem/stopword/
    # translate differences corrupt term matching the same way).
    # Build-tuning knobs may differ freely, as do the source-selection
    # rules (file_filters/title_reject_rules chose WHICH docs were
    # indexed — those docs are already baked into the copied segments).
    _TUNING = {"bytes_per_partition", "flush_docs", "salt_threshold",
               "chunk_docs", "salt_partitions", "file_filters",
               "title_reject_rules"}
    sem0 = {k: v for k, v in metas[0]["config"].items()
            if k not in _TUNING}
    for m, d in zip(metas[1:], src_dirs[1:]):
        sem = {k: v for k, v in m["config"].items() if k not in _TUNING}
        if sem != sem0:
            diff = sorted(k for k in set(sem) | set(sem0)
                          if sem.get(k) != sem0.get(k))
            raise ValueError(
                f"cannot merge {d}: IndexConfig differs from "
                f"{src_dirs[0]} on {diff}")

    # build into a temp dir and rename at the end: a failed merge must
    # leave no partially-populated out_dir behind (the _commit_dir
    # discipline of build_index, at whole-index granularity)
    if os.path.exists(out_dir) and os.listdir(out_dir):
        raise ValueError(f"merge target {out_dir} already exists")
    final_dir = out_dir
    out_dir = out_dir.rstrip("/") + "._tmp_merge"
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(_manifest_dir(out_dir), exist_ok=True)
    shard_bases: dict[str, int] = {}
    base = 0
    out_shard = 0
    docs_parts = []
    out_terms_rel = []
    for src_i, (src, meta) in enumerate(zip(src_dirs, metas)):
        # all source reads resolve THROUGH the source manifest: a
        # source with time-travel generations on disk (post-compact,
        # pre-expire) must contribute only its CURRENT files
        src_handle = IndexHandle(spark, src)
        src_docs = src_handle.docs()
        if "shard" in src_docs.columns:
            src_docs = src_docs.drop("shard")  # partition-dir column
        docs_parts.append(
            src_docs.withColumn("doc_id", F.col("doc_id") + F.lit(base))
            .withColumn("src_order", F.lit(src_i)))
        src_bases = meta.get("shard_bases", {}) or {}
        src_files = meta.get("files") or {}
        seg_rels = src_files.get("segments")
        if seg_rels is None:  # pre-snapshot manifest
            seg_rels = sorted(
                "segments/" + n
                for n in os.listdir(os.path.join(src, "segments"))
                if n.startswith("shard="))
        term_rels = src_files.get("terms")
        for rel in sorted(seg_rels):
            name = os.path.basename(rel)
            _copy_tree(os.path.join(src, rel),
                       os.path.join(out_dir, "segments",
                                    f"shard={out_shard}"))
            term_rel = f"terms/{name}"
            if ((term_rels is None and
                 os.path.isdir(os.path.join(src, term_rel)))
                    or (term_rels is not None and term_rel in term_rels)):
                _copy_tree(os.path.join(src, term_rel),
                           os.path.join(out_dir, "terms",
                                        f"shard={out_shard}"))
                out_terms_rel.append(f"terms/shard={out_shard}")
            # a source that is itself a merged (non-compacted) index has
            # its own per-shard rebase; compose the offsets so nested
            # merges decode the right doc ids
            orig_shard_id = name.split("=", 1)[1]
            shard_bases[str(out_shard)] = base + int(
                src_bases.get(orig_shard_id, 0))
            out_shard += 1
        # carry forward tombstones of the source itself
        rdf = src_handle.removed()
        if rdf is not None:
            _append_removed(spark, out_dir, rdf.withColumn(
                "doc_id", F.col("doc_id") + F.lit(base)))
        base += meta["doc_count"]

    all_docs = docs_parts[0]
    for p in docs_parts[1:]:
        all_docs = all_docs.unionByName(p)
    # newest-wins dedupe by url: highest src_order survives
    w = Window.partitionBy("url").orderBy(
        F.desc("src_order"), F.desc("doc_id"))
    ranked = all_docs.withColumn("_rn", F.row_number().over(w))
    losers = ranked.filter(F.col("_rn") > 1).select("doc_id", "url")
    _append_removed(spark, out_dir, losers)
    docs_out = ranked.drop("_rn", "src_order")
    tmp = os.path.join(out_dir, "_tmp_docs_merged")
    docs_out.write.mode("overwrite").parquet(tmp)
    final = os.path.join(out_dir, "docs", "shard=0")
    if os.path.exists(final):
        shutil.rmtree(final)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.replace(tmp, final)

    auto_stop = sorted(set().union(
        *(m.get("auto_stopwords", []) for m in metas)))
    meta = {
        "config": metas[-1]["config"],
        "n_shards": out_shard,
        "shard_bounds": [],
        "complete": True,
        "doc_count": base,
        "token_count": sum(m.get("token_count", 0) for m in metas),
        "posting_count": sum(m.get("posting_count", 0) for m in metas),
        "shard_bases": shard_bases,
        "merged_from": [os.path.abspath(d) for d in src_dirs],
    }
    if auto_stop:
        # IgnoreLimit-stopped terms' postings are still on disk in the
        # copied segments (metadata-only op until compaction) — losing
        # the list here would resurrect them in the merged index
        meta["auto_stopwords"] = auto_stop
    meta["next_shard_id"] = out_shard
    meta["files"] = {
        "docs": ["docs/shard=0"],
        "segments": [f"segments/shard={i}" for i in range(out_shard)],
        "terms": out_terms_rel,
        "removed": _list_removed_files(out_dir),
    }
    commit_manifest(out_dir, meta)
    if os.path.isdir(final_dir):  # pre-created empty target
        os.rmdir(final_dir)
    os.rename(out_dir, final_dir)
    return meta


def _append_removed(spark, index_dir: str, df) -> None:
    path = os.path.join(index_dir, "removed")
    df.select("doc_id", "url").write.mode("append").parquet(path)


def compact_index(spark, index_dir: str):
    """Heavyweight rewrite (Iceberg RewriteDataFiles analogue): decode
    every posting chunk, drop tombstoned docs and IgnoreLimit-stopped
    terms, and repack into one consolidated shard with globally-rebased
    doc ids. Clears tombstones and shard_bases. Doc ids are preserved
    (gaps where docs were removed are harmless — ids are identifiers,
    not offsets), so query results before/after compaction are
    identical. The reference's merge writes a fully renumbered index
    (/root/reference/src/merge.c:77-400); at 100 TB an id-preserving
    rewrite avoids the extra doc-id remap shuffle."""
    from pyspark.sql import functions as F

    from ..query.executor import DECODED_SCHEMA, _decode_kernel

    handle = IndexHandle(spark, index_dir)
    cfg = handle.cfg
    meta = dict(handle.meta)
    stopped = frozenset(meta.get("auto_stopwords", []))

    scan = handle.segments()
    bases = handle.shard_bases
    if bases:
        expr = F.lit(0).cast("long")
        for sid, b in bases.items():
            expr = F.when(F.col("shard") == sid,
                          F.lit(b).cast("long")).otherwise(expr)
        scan = scan.withColumn("base", expr)
    else:
        scan = scan.withColumn("base", F.lit(0).cast("long"))
    removed = handle.removed()
    n_removed = removed.count() if removed is not None else 0
    # two physical strategies, one semantic result:
    # - CHUNK-LEVEL (default): shuffle the already-PACKED chunk bytes
    #   co-located by term bucket, then decode→filter→re-pack each
    #   batch's (term, field) groups with one batch codec call each
    #   way. The shuffle moves compact binaries (the build-merge
    #   shape), never 1 row per posting —
    #   at 1M docs this is the difference between a compact that costs
    #   a fraction of a build and one that costs 4.5 builds (r5 bench).
    #   Tombstones ride to executors as a sorted numpy array; their
    #   count between compactions is the incremental-update volume
    #   (compaction clears them), so the driver collect is bounded —
    #   guarded by _TOMBSTONE_DRIVER_CAP anyway.
    # - ROW-LEVEL: IgnoreLimit position renumbering needs a per-doc
    #   removed-positions join, and a pathological tombstone backlog
    #   overflows the driver array — both fall back to the decoded-row
    #   pipeline below.
    if not stopped and n_removed <= _TOMBSTONE_DRIVER_CAP:
        return _compact_chunkwise(spark, index_dir, handle, cfg, meta,
                                  scan, removed, n_removed)
    decoded = scan.mapInPandas(
        lambda it: _decode_kernel(it, True, None, True),
        schema=DECODED_SCHEMA)
    if removed is not None:
        decoded = decoded.join(removed.select("doc_id"), "doc_id",
                               "left_anti")
    if stopped:
        # reference parity (adjustWordPositions,
        # /root/reference/src/index.c:1824-1924): removing the stopped
        # words RENUMBERS surviving positions so the gaps collapse —
        # post-compaction the index is identical to one built with the
        # stopped words as index-time stopwords (which never consume
        # positions). Per-doc removed-position arrays join back on
        # doc_id (one extra shuffle — fine for the heavyweight op),
        # then p -> p - |removed < p| and dl -> dl - |removed|.
        stop_list = list(stopped)
        rpos = (decoded.filter(F.col("term").isin(stop_list))
                .select("doc_id", "positions")
                .groupBy("doc_id")
                # distinct: a token fanned into several fields (title,
                # metanames) repeats the SAME position — it is one
                # removed slot, not several
                .agg(F.array_sort(F.array_distinct(F.flatten(
                    F.collect_list("positions")))).alias("rpos")))
        survivors = (decoded.filter(~F.col("term").isin(stop_list))
                     .join(rpos, "doc_id", "left"))

        def renumber(batches):
            for pdf in batches:
                pos_out = []
                dl = pdf["dl"].to_numpy().copy()
                for i, (p, rp) in enumerate(zip(pdf["positions"],
                                                pdf["rpos"])):
                    if rp is None or not len(rp):
                        pos_out.append(p)
                        continue
                    rp = np.asarray(rp, dtype=np.int64)
                    p64 = np.asarray(p, dtype=np.int64)
                    pos_out.append(
                        (p64 - np.searchsorted(rp, p64)).astype("int32"))
                    dl[i] -= len(rp)
                pdf = pdf.drop(columns=["rpos"])
                pdf["positions"] = pos_out
                pdf["dl"] = dl
                yield pdf

        decoded = survivors.mapInPandas(renumber, schema=DECODED_SCHEMA)

    n_buckets = cfg.n_buckets
    chunk_docs = cfg.chunk_docs

    def repack(batches):
        """Whole-batch repack of the sorted (term, field, doc_id) row
        stream: group boundaries via numpy, then ONE pack call for every
        chunk_docs-sized group slice of the batch. The batch's last
        group emits only full chunks; its remainder carries over to the
        next batch, which continues the same chunk count."""
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            new = _group_starts(pdf)
            last = int(np.flatnonzero(new)[-1]) if len(pdf) else 0
            cut = last + (len(pdf) - last) // chunk_docs * chunk_docs
            carry = pdf.iloc[cut:] if cut < len(pdf) else None
            if cut:
                yield _repack_rows(pdf.iloc[:cut], new[:cut])
        if carry is not None and len(carry):
            yield _repack_rows(carry, _group_starts(carry))

    def _repack_rows(pdf, new):
        first = np.flatnonzero(new)
        pos = list(pdf["positions"])
        return _chunk_frame(
            pdf["term"].to_numpy()[first], pdf["field"].to_numpy()[first],
            np.diff(np.r_[first, len(pdf)]),
            pdf["doc_id"].to_numpy(np.int64), pdf["tf"].to_numpy(np.int64),
            np.concatenate(pos) if pos else np.empty(0, np.int64),
            np.frombuffer(b"".join(pdf["structs"]), dtype=np.uint8),
            pdf["dl"].to_numpy(np.int64), n_buckets, chunk_docs)

    # one reducer per term bucket (a term maps to one bucket), so the
    # partitioned write below makes one file per bucket directory
    compacted = (decoded
                 .repartition(n_buckets, F.pmod(F.crc32("term"),
                                                F.lit(n_buckets)))
                 .sortWithinPartitions("term", "field", "doc_id")
                 .mapInPandas(repack, schema=CHUNK_SCHEMA))

    if stopped:
        # doc_len (BM25 dl / TotalWordsPerFile) shrinks by the number
        # of removed tokens, matching the renumbered positions
        rcnt = rpos.select("doc_id", F.size("rpos").alias("rm"))
        live = (handle.live_docs()
                .join(rcnt, "doc_id", "left")
                .withColumn("doc_len",
                            F.col("doc_len")
                            - F.coalesce(F.col("rm"), F.lit(0)))
                .drop("rm"))
    else:
        live = handle.live_docs()
    return _finalize_compact(spark, index_dir, meta, compacted, live)


def _finalize_compact(spark, index_dir: str, meta: dict, compacted,
                      live):
    """Shared compact tail: write segments/docs/terms as a NEW
    generation shard and commit the manifest."""
    from pyspark.sql import functions as F

    seg_tmp = os.path.join(index_dir, "_tmp_compact_segments")
    compacted.write.mode("overwrite").partitionBy("term_bucket") \
        .parquet(seg_tmp)
    docs_tmp = os.path.join(index_dir, "_tmp_compact_docs")
    if "shard" in live.columns:
        live = live.drop("shard")
    live.write.mode("overwrite").parquet(docs_tmp)

    terms_tmp = os.path.join(index_dir, "_tmp_compact_terms")
    (spark.read.schema(CHUNK_SCHEMA).parquet(seg_tmp)
     .groupBy("term_bucket", "term", "field")
     .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(terms_tmp))

    # commit as a NEW generation (fresh shard id), leaving the prior
    # generation's dirs and tombstone files on disk: older snapshots
    # keep reading them through their pinned manifests until
    # expire_snapshots garbage-collects (Iceberg RewriteDataFiles —
    # the rewrite commits metadata, expiry deletes data)
    gen = int(meta.get("next_shard_id", meta.get("n_shards", 1)))
    for sub, tmp in (("segments", seg_tmp), ("docs", docs_tmp),
                     ("terms", terms_tmp)):
        final = os.path.join(index_dir, sub, f"shard={gen}")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.replace(tmp, final)

    live_count = spark.read.schema(DOCS_SCHEMA).parquet(
        os.path.join(index_dir, "docs", f"shard={gen}")).count()
    # doc_count stays the doc-id HIGH-WATER mark (update_documents uses
    # it as the next shard's base); live_doc_count is the survivor count
    meta.update(n_shards=1, shard_bases={}, live_doc_count=live_count,
                compacted=True, next_shard_id=gen + 1,
                files={
                    "docs": [f"docs/shard={gen}"],
                    "segments": [f"segments/shard={gen}"],
                    "terms": [f"terms/shard={gen}"],
                    "removed": [],
                })
    commit_manifest(index_dir, meta)
    return meta


def _group_starts(pdf) -> np.ndarray:
    """True at the first row of each (term, field) run of a frame
    sorted by (term, field)."""
    terms = pdf["term"].to_numpy()
    fields = pdf["field"].to_numpy()
    new = np.ones(len(pdf), dtype=bool)
    new[1:] = (terms[1:] != terms[:-1]) | (fields[1:] != fields[:-1])
    return new


def _chunk_frame(terms, fields, gcounts, doc_ids, tfs, pos, sts, dls,
                 n_buckets: int, chunk_docs: int):
    """Flat postings of (term, field) groups (``gcounts[g]`` docs of
    group g, end to end) → chunk-row frame: each group split into
    chunks of chunk_docs postings (an empty group vanishes), every
    chunk packed by ONE batch codec call."""
    nchunks = (gcounts + chunk_docs - 1) // chunk_docs
    grp = np.repeat(np.arange(len(gcounts)), nchunks)
    k = np.arange(len(grp)) - np.repeat(np.cumsum(nchunks) - nchunks,
                                        nchunks)
    counts = np.minimum(gcounts[grp] - k * chunk_docs, chunk_docs)
    ends = np.cumsum(counts)
    buckets = np.fromiter((term_bucket(t, n_buckets) for t in terms),
                          dtype=np.int64, count=len(terms))
    cols = {"term_bucket": buckets[grp], "term": terms[grp],
            "field": fields[grp], "doc_lo": doc_ids[ends - counts],
            "doc_hi": doc_ids[ends - 1]}
    cols.update(pack_posting_lists(doc_ids, tfs, pos, sts, dls, counts))
    return pd.DataFrame(cols, columns=_CHUNK_COLS)


_TOMBSTONE_DRIVER_CAP = 20_000_000  # ~160 MB of int64 on the driver


def _compact_chunkwise(spark, index_dir, handle, cfg, meta, scan,
                       removed, n_removed):
    """Chunk-level compact: the shuffle co-locates PACKED chunk rows by
    term bucket (compact binaries, the build-merge shape — never one
    row per posting; one reducer, hence one written file, per bucket),
    then each batch's (term, field) groups decode, drop tombstoned
    docs, and re-pack in one batch codec call each way. Semantically
    identical to the decoded-row path (engine_lifecycle_match + test_lifecycle
    pin query identity); physically it skips materializing 1 pandas
    row + 1 Arrow position array per posting on BOTH sides of the
    shuffle — the r5 1M-doc bench had the row path costing 4.5 full
    builds, dominated by exactly that."""
    removed_ids = None
    if n_removed:
        removed_ids = np.sort(np.array(
            [r["doc_id"] for r in removed.select("doc_id").collect()],
            dtype=np.int64))
    n_buckets = cfg.n_buckets
    chunk_docs = cfg.chunk_docs

    def repack_chunks(batches):
        """Per batch, ONE unpack of every complete (term, field) group's
        chunks and one pack of the surviving postings. The batch's last
        group may continue in the next batch, so its rows carry over."""
        carry = None
        for pdf in batches:  # sorted by (term, field, base + doc_lo)
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            new = _group_starts(pdf)
            cut = int(np.flatnonzero(new)[-1]) if len(pdf) else 0
            carry = pdf.iloc[cut:]
            if cut:
                yield _repack_chunk_rows(pdf.iloc[:cut], new[:cut])
        if carry is not None and len(carry):
            yield _repack_chunk_rows(carry, _group_starts(carry))

    def _repack_chunk_rows(pdf, new):
        """Chunk rows of whole (term, field) groups (``new`` marks each
        group's first row) → re-packed chunk frame, tombstoned docs
        dropped, chunk_docs postings per chunk."""
        doc_ids, tfs, pos, sts, dls, counts = unpack_posting_lists(
            pdf["docs_bin"], pdf["tfs_bin"], pdf["pos_bin"],
            pdf["structs_bin"], pdf["dls_bin"],
            base=pdf["base"].to_numpy(np.int64))
        group_of_doc = np.repeat(np.cumsum(new) - 1, counts)
        if removed_ids is not None and len(doc_ids):
            idx = np.searchsorted(removed_ids, doc_ids)
            inb = idx < len(removed_ids)
            hit = np.zeros(len(doc_ids), dtype=bool)
            hit[inb] = removed_ids[idx[inb]] == doc_ids[inb]
            if hit.any():
                keep = ~hit
                pk = np.repeat(keep, tfs)
                pos = pos[pk]
                sts = sts[pk]
                doc_ids = doc_ids[keep]
                tfs = tfs[keep]
                dls = dls[keep]
                group_of_doc = group_of_doc[keep]
        # every doc tombstoned: the group's term row vanishes
        gcounts = np.bincount(group_of_doc, minlength=int(new.sum()))
        first = np.flatnonzero(new)
        return _chunk_frame(pdf["term"].to_numpy()[first],
                            pdf["field"].to_numpy()[first], gcounts,
                            doc_ids, tfs, pos, sts, dls, n_buckets,
                            chunk_docs)

    from pyspark.sql import functions as F

    # one reducer per term bucket (a term maps to one bucket, so each
    # (term, field) group stays in one partition)
    compacted = (scan
                 .repartition(n_buckets, "term_bucket")
                 .sortWithinPartitions(
                     "term", "field",
                     (F.col("base") + F.col("doc_lo")))
                 .mapInPandas(repack_chunks, schema=CHUNK_SCHEMA))
    return _finalize_compact(spark, index_dir, meta, compacted,
                             handle.live_docs())


def apply_ignore_limit(spark, index_dir: str, plimit: float = 101.0,
                       flimit: int = 10_000):
    """IgnoreLimit auto-stopwords: words occurring in >= plimit percent
    of files AND in >= flimit files become stopwords post-hoc
    (getPositionsFromIgnoreLimitWords,
    /root/reference/src/index.c:1614-1820; defaults OFF — PLIMIT=101,
    FLIMIT=10000, /root/reference/src/config.h:160-163).

    Spark-first: a METADATA-ONLY pass. The stopped words are recorded
    in the manifest; the query compiler treats them as stopwords from
    then on. Posting data stays on disk untouched until the next
    compact_index, which drops the stopped postings AND renumbers
    surviving positions (adjustWordPositions parity,
    /root/reference/src/index.c:1824-1924) — post-compaction the index
    is identical to one built with the stopped words as index-time
    stopwords. In the transitional window between this call and
    compaction, phrases spanning a stopped word do not match (the
    index still carries the gap the query no longer spells).
    Returns the stopped word list.
    """
    from pyspark.sql import functions as F

    handle = IndexHandle(spark, index_dir)
    # thresholds compare against INDEXED files (the reference counts
    # tfrequency over the index as built; tombstones don't exist there)
    n_docs = int(handle.meta.get("doc_count", handle.stats["n_docs"]))
    # phase 1 — candidates by upper bound: Σ df over fields counts a
    # file once PER FIELD the word occurs in, so it can only overcount
    # the reference's distinct-file tfrequency (no false negatives)
    cand = [r["term"] for r in
            (handle.terms().groupBy("term")
             .agg(F.sum("df").alias("df"))
             .filter((F.col("df") >= flimit)
                     & (F.col("df") * 100.0 >= plimit * n_docs))
             .select("term").collect())]
    stopped = []
    if cand:
        # phase 2 — exact distinct-file count per candidate: decode
        # candidate doc-id arrays per (term, shard) (shards hold
        # disjoint docs, fields within a shard overlap) and unique
        # them. Candidates are by definition few head terms, so the
        # decode touches a handful of terms' postings only.
        def distinct_docs(key, pdf):
            doc_ids = unpack_posting_lists(pdf["docs_bin"])[0]
            return pd.DataFrame({"term": [key[0]],
                                 "n": [len(np.unique(doc_ids))]})

        per_shard = (handle.segments()
                     .filter(F.col("term").isin(cand))
                     .select("term", "shard", "docs_bin")
                     .groupBy("term", "shard")
                     .applyInPandas(distinct_docs,
                                    "term string, n long"))
        rows = (per_shard.groupBy("term").agg(F.sum("n").alias("df"))
                .filter((F.col("df") >= flimit)
                        & (F.col("df") * 100.0 >= plimit * n_docs))
                .select("term").collect())
        stopped = sorted(r["term"] for r in rows)
    meta = _load_meta(index_dir)
    meta["auto_stopwords"] = sorted(
        set(meta.get("auto_stopwords", [])) | set(stopped))
    commit_manifest(index_dir, meta)
    return stopped


def _adopt_new_removed(index_dir, meta, before: list[str]) -> None:
    """Set the manifest's tombstone list to (prior manifest list) ∪
    (files appended since ``before``) — NOT the raw directory listing:
    after a compaction, removed/ still holds the retired generation's
    tombstones for older snapshots to read, and re-adopting them into
    every later manifest would make each query's removed() scan grow
    with compaction history instead of staying O(current tombstones)."""
    new = set(_list_removed_files(index_dir)) - set(before)
    prior = (meta.get("files") or {}).get("removed")
    if prior is None:  # pre-snapshot manifest: keep everything on disk
        prior = before
    files = dict(meta.get("files") or {})
    files["removed"] = sorted(set(prior) | new)
    meta["files"] = files


def remove_documents(spark, index_dir: str, urls: list[str]):
    """Tombstone docs by url (-r; deleted-doc filter
    /root/reference/src/search.c:1789). Returns number removed."""
    return remove_documents_df(
        spark, index_dir,
        spark.createDataFrame([(u,) for u in urls], "url string"))


def remove_documents_df(spark, index_dir: str, urls_df):
    """DataFrame-native -r: tombstone every live doc whose url appears
    in ``urls_df`` (column ``url``). The list variant wraps this; prog
    streams route their 'remove' records here directly, so an
    unbounded removal set never collects to the driver or inlines
    into the plan as an isin literal. Returns number removed."""
    from pyspark.sql import functions as F

    handle = IndexHandle(spark, index_dir)
    # live_docs, not docs: an url superseded by update_documents is
    # already tombstoned — matching it again would double-count the
    # removal and write duplicate tombstone rows
    hit = (handle.live_docs()
           .join(urls_df.select("url").distinct(), "url", "semi")
           .select("doc_id", "url"))
    n = hit.count()
    if n:
        before = _list_removed_files(index_dir)
        _append_removed(spark, index_dir, hit)
        # every mutation commits a manifest update (Iceberg snapshot
        # analogue) — it carries removal lineage AND invalidates open
        # handles, whose cached stats/θ would otherwise skew BM25
        meta = handle.meta
        meta["removed_total"] = int(meta.get("removed_total", 0)) + n
        _adopt_new_removed(index_dir, meta, before)
        commit_manifest(index_dir, meta)
    return n


def _parquet_rows(path: str) -> int:
    """Row count of a parquet directory, read from the file footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def update_documents(spark, pages_df, index_dir: str):
    """Incremental update (-u): index ``pages_df`` as a NEW shard and
    tombstone any existing docs with the same urls (replace semantics,
    check_for_replace /root/reference/src/index.c:824-922). Stats and
    BM25 scores reflect the post-update corpus because the executor
    computes them net of tombstones."""
    from pyspark.sql import functions as F

    meta = _load_meta(index_dir)
    if not meta.get("complete"):
        raise ValueError("cannot update an incomplete index")
    cfg = IndexConfig(**meta["config"])
    # replace-detection goes through the handle: manifest-resolved file
    # lists (a glob of docs/ would also see retired time-travel
    # generations) AND net of tombstones — joining the full docs table
    # would re-tombstone every already-dead copy of an url on each
    # update, growing removed/ quadratically under a streaming
    # re-crawl that revisits the same urls every batch
    handle = IndexHandle(spark, index_dir)
    superseded = (handle.live_docs().join(
        pages_df.select("url").distinct(), "url", "inner")
        .select("doc_id", "url"))

    shard_id = int(meta.get("next_shard_id", meta["n_shards"]))
    doc_base = meta["doc_count"]
    # open the update window BEFORE committing any new-shard data: a
    # crash mid-update must leave the index refusing to open (loud),
    # never serving the new docs alongside their un-tombstoned old
    # versions as if both were live
    meta["complete"] = False
    meta["updating_shard"] = shard_id
    # pin the tombstone listing as of window-open: _finish_update (and
    # the roll-forward repair, which may run AFTER this update's
    # append already happened) adopts exactly the files added since —
    # a finish-time listing diff would lose them on replay
    meta["removed_before"] = _list_removed_files(index_dir)
    # the window-open overwrite is this path's lost-update point —
    # detect a writer that committed since our manifest load
    check_not_raced(index_dir, meta)
    index_meta_path = os.path.join(_manifest_dir(index_dir),
                                   "index.json")
    _atomic_write_json(index_meta_path, meta)
    sm = _build_shard(spark, pages_df, index_dir, cfg, shard_id, doc_base,
                      _plan_partitions(pages_df, cfg))
    # tombstones go to a STAGING dir first: repair_incomplete_update
    # can then roll a crashed update back (drop shard + staging) or
    # forward (merge staging, finalize manifest) without ever having
    # to delete rows out of the append-only removed/ table
    staging = os.path.join(index_dir, f"_removed_staging_{shard_id}")
    superseded.write.mode("overwrite").parquet(staging)
    # the row count comes from the staged files' parquet footers: the
    # superseded join runs once, as the staging write
    n_replaced = _parquet_rows(staging)
    if not n_replaced:
        shutil.rmtree(staging)  # a refresh that replaced nothing
    _atomic_write_json(
        os.path.join(_manifest_dir(index_dir), f"shard_{shard_id}.json"),
        sm)
    _finish_update(spark, index_dir, meta, sm, staging)
    return {"shard": sm, "replaced": n_replaced}


def _finish_update(spark, index_dir, meta, sm, staging):
    """Merge staged tombstones and finalize the manifest — the shared
    tail of update_documents and the roll-forward repair path."""
    before = meta.pop("removed_before", None)
    if before is None:  # update opened by a pre-pinning version
        before = (meta.get("files") or {}).get("removed") or []
    if os.path.isdir(staging):
        _append_removed(spark, index_dir, spark.read.parquet(staging))
        shutil.rmtree(staging, ignore_errors=True)
    shard_id = meta["updating_shard"]
    meta["n_shards"] = int(meta.get("n_shards", 0)) + 1
    meta["next_shard_id"] = shard_id + 1
    meta["doc_count"] = meta["doc_count"] + sm["doc_count"]
    meta["token_count"] = meta.get("token_count", 0) + sm["token_count"]
    meta["posting_count"] = (meta.get("posting_count", 0)
                             + sm["posting_count"])
    files = dict(meta.get("files") or {})
    for sub in ("docs", "segments", "terms"):
        lst = list(files.get(sub) or [])
        rel = f"{sub}/shard={shard_id}"
        if rel not in lst:
            lst.append(rel)
        files[sub] = lst
    meta["files"] = files
    _adopt_new_removed(index_dir, meta, before)
    meta["complete"] = True
    meta.pop("updating_shard", None)
    commit_manifest(index_dir, meta)


def repair_incomplete_update(spark, index_dir: str) -> str | None:
    """Recover an index whose update_documents crashed mid-flight
    (manifest left with complete=False + updating_shard). Returns
    \"forward\" / \"rollback\" / None (nothing to repair).

    Roll FORWARD when the new shard fully committed (its manifest and
    all three data dirs exist): merge any staged tombstones and
    finalize — equivalent to the update having succeeded. Otherwise
    roll BACK: drop the partial shard artifacts and staged tombstones
    (removed/ was never touched — tombstones merge only after the
    shard commit), restoring the pre-update index. Either way the
    index opens again and a replayed batch (streaming at-least-once)
    converges to the same final state."""
    meta = _load_meta(index_dir)
    if meta.get("complete") or "updating_shard" not in meta:
        return None
    sid = int(meta["updating_shard"])
    staging = os.path.join(index_dir, f"_removed_staging_{sid}")
    shard_manifest = os.path.join(_manifest_dir(index_dir),
                                  f"shard_{sid}.json")
    data_dirs = [os.path.join(index_dir, part, f"shard={sid}")
                 for part in ("docs", "segments", "terms")]
    if os.path.exists(shard_manifest) \
            and all(os.path.isdir(d) for d in data_dirs):
        sm = json.load(open(shard_manifest))
        _finish_update(spark, index_dir, meta, sm, staging)
        return "forward"
    for d in data_dirs:
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    if os.path.exists(shard_manifest):
        os.remove(shard_manifest)
    meta["complete"] = True
    meta.pop("updating_shard", None)
    meta.pop("removed_before", None)
    # the files list in the pre-update manifest is already correct (the
    # aborted shard never entered it) — commit it as a new version so
    # open handles see the repair
    commit_manifest(index_dir, meta)
    return "rollback"


def expire_snapshots(index_dir: str, keep_last: int = 1) -> dict:
    """Iceberg expire_snapshots analogue: delete snapshot manifests
    older than the newest ``keep_last`` (the current version is always
    kept) and physically remove the data dirs / tombstone files that
    no surviving manifest references.

    Purely metadata-driven, driver-side GC — no Spark job: the
    candidate set is exactly the union of the expired manifests'
    ``files`` lists minus the kept ones, so at 100 TB the walk is over
    O(shards) directory names, never data files. Single-writer
    discipline (the same one every mutation assumes) makes this safe
    without a lock service."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    current = _load_meta(index_dir)
    snaps = list_snapshots(index_dir)
    keep = set(snaps[-keep_last:]) | {int(current.get("snapshot", 0))}
    kept_metas = [current]
    for v in sorted(keep):
        p = os.path.join(_snapshots_dir(index_dir), f"v{v}.json")
        if os.path.exists(p):
            kept_metas.append(json.load(open(p)))
    referenced: set[str] = set()
    for m in kept_metas:
        fl = m.get("files")
        if fl is None:
            raise ValueError(
                "cannot expire: a kept manifest predates file tracking")
        for lst in fl.values():
            referenced.update(lst)
    stats = {"snapshots_deleted": 0, "dirs_deleted": 0,
             "files_deleted": 0}
    for v in snaps:
        if v in keep:
            continue
        os.remove(os.path.join(_snapshots_dir(index_dir), f"v{v}.json"))
        stats["snapshots_deleted"] += 1
    for sub in ("docs", "segments", "terms"):
        root = os.path.join(index_dir, sub)
        if not os.path.isdir(root):
            continue
        for name in sorted(os.listdir(root)):
            if name.startswith("shard=") \
                    and f"{sub}/{name}" not in referenced:
                shutil.rmtree(os.path.join(root, name))
                stats["dirs_deleted"] += 1
    removed_root = os.path.join(index_dir, "removed")
    if os.path.isdir(removed_root):
        for name in sorted(os.listdir(removed_root)):
            if name.startswith("part-") \
                    and f"removed/{name}" not in referenced:
                os.remove(os.path.join(removed_root, name))
                stats["files_deleted"] += 1
    return stats


def snapshot_diff(spark, index_dir: str, v_from: int,
                  v_to: int | None = None):
    """Change-data-capture between two committed snapshots (Iceberg
    incremental-read analogue; no reference counterpart — swish-e's
    single-file index has no version history to diff). Returns a
    DataFrame ``(url, change)`` with ``change`` ∈ added / removed /
    replaced, keyed by url because doc ids are never reused: an url
    live in both versions under DIFFERENT ids was replaced by an
    update in between, while a compaction (which preserves ids)
    correctly reports no change.

    ``v_to=None`` diffs against the current version. One full-outer
    join of the two live-doc sets — each resolved through its pinned
    manifest — so the cost is O(live docs), independent of how many
    mutations or retired generations lie between the versions."""
    from pyspark.sql import functions as F

    h_from = IndexHandle(spark, index_dir, snapshot=v_from)
    h_to = IndexHandle(spark, index_dir, snapshot=v_to)
    a = h_from.live_docs().select(
        "url", F.col("doc_id").alias("_from_id"))
    b = h_to.live_docs().select("url", F.col("doc_id").alias("_to_id"))
    j = a.join(b, "url", "full_outer")
    return (j.select(
        "url",
        F.when(F.col("_from_id").isNull(), F.lit("added"))
         .when(F.col("_to_id").isNull(), F.lit("removed"))
         .when(F.col("_from_id") != F.col("_to_id"),
               F.lit("replaced")).alias("change"))
        .where(F.col("change").isNotNull()))
