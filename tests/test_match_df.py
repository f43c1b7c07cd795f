"""``match_df``: every matching (doc_id, score) row, compared in full
with the oracle's all-matches result, on a fresh and on a tombstoned
(post-``update_documents``) index.

Doc ids of the updated index are not the oracle's, so rows compare by
url. ``search(q, k=1 << 20)`` on an engine without a resident copy is
served through ``match_df`` and must agree with it row for row."""

import pytest

from swish_e_spark.index.builder import (
    IndexConfig, IndexHandle, build_index, generate_pages_df,
)
from swish_e_spark.index.maintenance import update_documents
from swish_e_spark.query.executor import SparkQueryEngine
from swish_e_spark.textproc.extractor import IN_TITLE

CFG = dict(n_buckets=8, buzzwords=("c++",), chunk_docs=64,
           salt_threshold=32, flush_docs=50)
EN = {"lang": ("en", "en")}

# name -> (query, keyword arguments of match_df / search / oracle)
FAMILIES = {
    "term": ("pigs", {}),
    "and": ("pigs AND wolf", {}),
    "or": ("pigs OR sugar", {}),
    "andnot": ("common0 NOT wolf", {}),
    "not": ("NOT pigs", {}),
    "and_not": ("sugar AND (NOT pigs)", {}),
    "phrase": ('"three little pigs"', {}),
    "near": ("little NEAR5 wolf", {}),
    "field": ("meta1=metatest1", {}),
    "prefix": ("tail*", {}),
    "pattern": ("li?tle", {}),
    "mask": ("sopu OR lituce", {"structure_mask": IN_TITLE}),
    "mask_not": ("NOT sopu", {"structure_mask": IN_TITLE}),
    "limits": ("common0", {"limits": EN}),
    "not_limits": ("NOT pigs", {"limits": EN}),
}


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory, corpus300):
    """{"fresh": engine, "updated": engine}, both without a resident
    copy. "updated" is built from the first 250 urls, then
    update_documents with urls[200:] — 50 replaced (tombstones) and 50
    new; its logical corpus is all 300 pages."""
    from pyspark.sql import functions as F

    pages = generate_pages_df(spark, 300, partitions=6)
    base = tmp_path_factory.mktemp("matchdf")
    fresh, updated = str(base / "fresh"), str(base / "updated")
    build_index(spark, pages, fresh, IndexConfig(**CFG), n_shards=2)
    urls = sorted(r["url"] for r in corpus300)
    build_index(spark, pages.filter(F.col("url") < urls[250]), updated,
                IndexConfig(**CFG), n_shards=1)
    update_documents(spark, pages.filter(F.col("url") >= urls[200]),
                     updated)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SparkQueryEngine, "RESIDENT_MAX_BYTES", 0)
        out = {name: SparkQueryEngine(spark, IndexHandle(spark, d))
               for name, d in (("fresh", fresh), ("updated", updated))}
    assert out["updated"].handle.removed() is not None
    return out


def _urls(engine):
    return {r["doc_id"]: r["url"] for r in
            engine.handle.docs().select("doc_id", "url").collect()}


@pytest.mark.parametrize("state", ["fresh", "updated"])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_match_df_equals_oracle(family, state, engines, oracle300):
    q, kw = FAMILIES[family]
    engine = engines[state]
    rows = [(r["doc_id"], r["score"])
            for r in engine.match_df(q, **kw).collect()]
    assert len({d for d, _ in rows}) == len(rows), "duplicate doc rows"
    url = _urls(engine)
    got = {url[d]: s for d, s in rows}
    want = {oracle300.docs[d]["url"]: s
            for d, s in oracle300.query(q, k=10 ** 9, **kw)}
    assert want, q
    assert got.keys() == want.keys(), q
    for u, s in want.items():
        assert got[u] == pytest.approx(s, rel=1e-6), (q, u)

    ranked = engine.search(q, k=1 << 20, **kw)
    assert engine.last_search_path == "spark"
    assert ranked == sorted(rows, key=lambda h: (-h[1], h[0])), q
