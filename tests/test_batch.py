"""Batch query API (query/batch.py): N queries in one shared pipeline
must be rank-identical to sequential search_df AND to the pure-Python
oracle, across every operator shape, including on an index with
tombstones (live-doc df) and a multi-shard rebased index."""

import pytest

from swish_e_spark.index.builder import (
    IndexConfig, IndexHandle, build_index, generate_pages_df,
)

N_DOCS = 300

BATTERY = {
    "term": "common0",
    "term2": "wolf",
    "and": "three AND pigs",
    "implicit_and": "pigs sugar",
    "or": "pigs OR sugar",
    "or_head": "common0 OR wolf",
    "andnot": "common0 NOT wolf",
    "phrase": '"three little pigs"',
    "phrase2": '"the three little"',
    "near": "little NEAR5 wolf",
    "near_wide": "pigs NEAR9 wolf",
    "near_chain": "little NEAR5 wolf NEAR5 pigs",
    "prefix": "wol*",
    "pattern": "w?lf",
    "field": "meta1=metatest1",
    "field_prefix": "meta1=metatest*",
    "paren": "(pigs OR wolf) AND three",
    "absent": "zzznotaword",
}


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bindex"))
    pages = generate_pages_df(spark, N_DOCS, partitions=6)
    cfg = IndexConfig(n_buckets=8, buzzwords=("c++",),
                      chunk_docs=64, salt_threshold=32, flush_docs=50)
    build_index(spark, pages, out, cfg, n_shards=2)
    return out


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    from swish_e_spark.query.executor import SparkQueryEngine

    return SparkQueryEngine(spark, IndexHandle(spark, index_dir))


def _by_query(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"]))
    return {q: sorted(v, key=lambda h: (-h[1], h[0]))
            for q, v in out.items()}


class TestBatchIdentity:
    def test_matches_sequential(self, engine):
        got = _by_query(engine.search_batch(BATTERY, k=10))
        for qid, q in BATTERY.items():
            seq = [(d, s) for d, s in engine.search(q, k=10)]
            assert got.get(qid, []) == seq, qid

    def test_matches_oracle(self, engine, oracle300):
        got = _by_query(engine.search_batch(BATTERY, k=10))
        for qid, q in BATTERY.items():
            orr = oracle300.query(q, k=10)
            mine = got.get(qid, [])
            assert [d for d, _ in mine] == [d for d, _ in orr], qid
            for (_, a), (_, b) in zip(mine, orr):
                assert a == pytest.approx(b, rel=1e-9), qid

    def test_k_truncates(self, engine):
        got = _by_query(engine.search_batch({"q": "common0"}, k=3))
        assert len(got["q"]) == 3
        assert got["q"] == [(d, s) for d, s in
                            engine.search("common0", k=3)]

    def test_list_input_gets_ids(self, engine):
        got = _by_query(engine.search_batch(["wolf", "pigs"], k=5))
        assert set(got) <= {"q000", "q001"}
        assert got["q000"] == [(d, s) for d, s in
                               engine.search("wolf", k=5)]

    def test_not_matches_oracle(self, engine, oracle300):
        qs = {"not": "NOT wolf", "and_not": "wolf AND (NOT pigs)",
              "and_not2": "sugar AND (NOT pigs)"}
        got = _by_query(engine.search_batch(qs, k=10))
        for qid, q in qs.items():
            orr = oracle300.query(q, k=10)
            mine = got.get(qid, [])
            assert [d for d, _ in mine] == [d for d, _ in orr], qid
            for (_, a), (_, b) in zip(mine, orr):
                assert a == pytest.approx(b, rel=1e-6), qid
            assert mine == engine.search(q, k=10), qid

    def test_wildcard_past_expand_cap(self, spark, index_dir, oracle300,
                                      monkeypatch):
        from swish_e_spark.query.executor import SparkQueryEngine
        from swish_e_spark.query.parser import parse_query

        monkeypatch.setattr(SparkQueryEngine, "PREFIX_EXPAND_CAP", 1)
        eng = SparkQueryEngine(spark, IndexHandle(spark, index_dir))
        node = parse_query("tail*", eng.cfg)
        assert eng._expand_prefix(node.field, node.prefix) is None
        want = oracle300.query("tail*", k=10)
        assert want
        got = _by_query(eng.search_batch({"w": "tail*"}, k=10))
        spk = [(r["doc_id"], r["score"]) for r in
               eng.search_df("tail*", 10, wand="off").collect()]
        for mine in (got.get("w", []), spk):
            assert [d for d, _ in mine] == [d for d, _ in want]
            for (_, a), (_, b) in zip(mine, want):
                assert a == pytest.approx(b, rel=1e-6)

    def test_malformed_raises(self, engine):
        from swish_e_spark.query.parser import QueryError

        with pytest.raises(QueryError):
            engine.search_batch({"bad": "*lead"})

    def test_absent_terms_empty(self, engine):
        got = _by_query(engine.search_batch(
            {"a": "zzznotaword", "b": "zzz AND wolf"}, k=10))
        assert got.get("a", []) == [] and got.get("b", []) == []


class TestBatchWithTombstones:
    def test_matches_sequential_after_remove(self, spark, index_dir,
                                             tmp_path_factory):
        import shutil

        from swish_e_spark.index.maintenance import remove_documents
        from swish_e_spark.query.executor import SparkQueryEngine

        out = str(tmp_path_factory.mktemp("bidx_rm"))
        shutil.copytree(index_dir, out, dirs_exist_ok=True)
        handle = IndexHandle(spark, out)
        victims = [r["url"] for r in
                   handle.docs().limit(25).collect()]
        remove_documents(spark, out, victims)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        sub = {k: BATTERY[k] for k in
               ("term", "and", "or", "phrase", "near", "prefix")}
        got = _by_query(eng.search_batch(sub, k=10))
        for qid, q in sub.items():
            assert got.get(qid, []) == \
                [(d, s) for d, s in eng.search(q, k=10)], qid
