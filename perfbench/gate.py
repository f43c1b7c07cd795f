"""Correctness gate. Runs outside every timed region; any mismatch
fails the run (``correct: false``)."""

from __future__ import annotations

import math


class GateError(AssertionError):
    pass


def _close(a: float, b: float, rel: float) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=0.0) or a == b


def check_exact(what: str, got, want, rel: float = 1e-9) -> None:
    """Same doc ids in the same order, scores within ``rel``."""
    if [d for d, _ in got] != [d for d, _ in want] or not all(
            _close(g, w, rel) for (_, g), (_, w) in zip(got, want)):
        raise GateError(f"{what}: {got!r} != {want!r}")


def check_ties_as_sets(what: str, got, want, k: int,
                       rel: float = 1e-9) -> None:
    """Same (key, score) ranking where keys of equal score compare as
    sets — doc ids are renumbered by updates, so ties may reorder. The
    last tie group of a full top-k may be cut at k on either side, so
    only its scores are compared."""
    if len(got) != len(want) or not all(
            _close(g, w, rel) for (_, g), (_, w) in zip(got, want)):
        raise GateError(f"{what}: {got!r} != {want!r}")
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and _close(want[j][1], want[i][1], rel):
            j += 1
        cut = j == len(want) and len(want) == k
        if not cut and ({key for key, _ in got[i:j]}
                        != {key for key, _ in want[i:j]}):
            raise GateError(f"{what}: {got!r} != {want!r}")
        i = j


def check_equal(what: str, got, want) -> None:
    if got != want:
        raise GateError(f"{what}: {got!r} != {want!r}")


def batch_rows(df) -> dict[str, list]:
    """search_batch result -> {query_id: [(doc_id, score)] ranked}."""
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return {q: sorted(v, key=lambda t: (-t[1], t[0]))
            for q, v in out.items()}


def check_batch(seen: dict, battery: dict, rows: dict) -> None:
    """search() top-k (``seen``) equals the search_batch rows of the
    same query (``rows`` from ``batch_rows`` of ``battery``)."""
    for qid, q in battery.items():
        check_exact(f"search vs search_batch for {q!r}", seen[q],
                    rows.get(qid, []))


def check_exhaustive(engine, seen: dict, queries: list[str],
                     k: int = 10) -> None:
    """search() top-k equals the exhaustive search_df(wand="off")."""
    for q in queries:
        want = [(r["doc_id"], r["score"])
                for r in engine.search_df(q, k, wand="off").collect()]
        check_exact(f"search vs search_df(wand=off) for {q!r}", seen[q],
                    want)


def oracle_slice(spark, pool: dict[str, list[str]], rows: list[dict],
                 index_dir: str, k: int = 10) -> None:
    """On a small slice of the serving corpus, every pool query is
    rank-identical to the pure-Python reference engine through
    search_batch, and the first query of each family also through
    search()."""
    from swish_e_spark.datagen.pages import doctype_of_url
    from swish_e_spark.index.builder import (
        IndexConfig, IndexHandle, build_index,
    )
    from swish_e_spark.oracle.engine import OracleIndex
    from swish_e_spark.query.executor import SparkQueryEngine
    from swish_e_spark.textproc.tokenizer import TokenizerConfig

    from .inputs import INDEX_CONFIG, pages_df

    oracle = OracleIndex(TokenizerConfig(
        buzzwords=frozenset(INDEX_CONFIG["buzzwords"])))
    for r in rows:
        oracle.add(r["url"], r["html"], doctype=doctype_of_url(r["url"]),
                   lang=r["lang"], warc_ts=r["warc_ts"])
    oracle.build()
    build_index(spark, pages_df(spark, rows, index_dir + ".pages"),
                index_dir, IndexConfig(**INDEX_CONFIG), resume=False)
    engine = SparkQueryEngine(spark, IndexHandle(spark, index_dir))
    battery = {f"o{i:03d}": q for i, q in
               enumerate(q for qs in pool.values() for q in qs)}
    rows_by_qid = batch_rows(engine.search_batch(battery, k=k))
    for qid, q in battery.items():
        check_exact(f"oracle slice (search_batch) {q!r}",
                    rows_by_qid.get(qid, []), oracle.query(q, k=k),
                    rel=1e-6)
    for qs in pool.values():
        check_exact(f"oracle slice (search) {qs[0]!r}",
                    engine.search(qs[0], k=k), oracle.query(qs[0], k=k),
                    rel=1e-6)
