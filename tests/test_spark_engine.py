"""End-to-end Spark engine tests: index build, rank-identity vs oracle,
byte-identity of extracted text, resume (SURVEY.md §5 items 3-5)."""

import json
import os

import pytest

from swish_e_spark.index.builder import (
    IndexConfig, IndexHandle, build_index, generate_pages_df,
)
from swish_e_spark.query.parser import WordsTooCommon

N_DOCS = 300

# the reference query set (FIXTURES.md §4)
RANK_QUERIES = [
    "pigs",
    "pigs AND wolf",
    "pigs OR sugar",
    "common0 NOT wolf",
    '"three little pigs"',
    '"once upon a time"',
    "little NEAR5 wolf",
    "meta1=metatest1",
    "meta1=metatest*",
    "common0",
    "tailterm0",
    "(pigs OR wolf) AND NOT meta1=metatest1",
    "espana",
    "upon near3 time",
]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory, corpus300):
    out = str(tmp_path_factory.mktemp("index"))
    pages = generate_pages_df(spark, N_DOCS, partitions=6)
    cfg = IndexConfig(n_buckets=8, buzzwords=("c++",),
                      chunk_docs=64,  # small chunks → exercise merge path
                      salt_threshold=32, flush_docs=50)
    build_index(spark, pages, out, cfg, n_shards=3)
    return out


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    from swish_e_spark.query.executor import SparkQueryEngine

    return SparkQueryEngine(spark, IndexHandle(spark, index_dir))


class TestBuild:
    def test_manifest_lineage(self, index_dir, oracle300):
        meta = json.load(open(os.path.join(index_dir, "_manifest",
                                           "index.json")))
        assert meta["complete"]
        assert meta["doc_count"] == oracle300.n_docs
        shards = [json.load(open(os.path.join(index_dir, "_manifest",
                                              f"shard_{i}.json")))
                  for i in range(3)]
        assert sum(s["doc_count"] for s in shards) == meta["doc_count"]
        assert all(s["posting_count"] > 0 and s["token_count"] > 0
                   for s in shards)
        # doc_base continuity = per-shard lineage
        assert shards[0]["doc_base"] == 0
        assert shards[1]["doc_base"] == shards[0]["doc_count"]

    def test_docs_table_matches_oracle(self, spark, index_dir, oracle300):
        handle = IndexHandle(spark, index_dir)
        rows = {r["doc_id"]: r for r in handle.docs().collect()}
        assert len(rows) == oracle300.n_docs
        for doc_id, props in oracle300.docs.items():
            row = rows[doc_id]
            assert row["url"] == props["url"], doc_id
            assert row["doc_len"] == props["doc_len"], doc_id
            assert row["title"] == props["title"], doc_id

    def test_stats_match_oracle(self, spark, index_dir, oracle300):
        handle = IndexHandle(spark, index_dir)
        assert handle.stats["n_docs"] == oracle300.n_docs
        assert handle.stats["avgdl"] == pytest.approx(oracle300.avgdl)

    def test_byte_identity_extracted_text(self, spark, corpus300):
        """Engine-extracted text (pages.text was produced by datagen via
        the same normative extractor) == oracle extraction, exact bytes,
        for every url (SURVEY.md §2.2 contract)."""
        from swish_e_spark.datagen.pages import doctype_of_url
        from swish_e_spark.textproc.extractor import extract

        for r in corpus300:
            doc = extract(r["html"], doctype=doctype_of_url(r["url"]))
            assert doc.body_text().encode("latin-1", "replace") == \
                r["text"].encode("latin-1", "replace"), r["url"]


class TestRankIdentity:
    @pytest.mark.parametrize("q", RANK_QUERIES)
    def test_query(self, q, engine, oracle300):
        expected = oracle300.query(q, k=10)
        got = engine.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], (
            f"doc order mismatch for {q!r}:\n got={got}\n exp={expected}")
        for (_, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-6), q

    def test_words_too_common(self, engine):
        with pytest.raises(WordsTooCommon):
            engine.search("the")

    def test_match_counts(self, engine, oracle300):
        for q in ["common0", "pigs OR wolf", "meta1=metatest1"]:
            got = engine.search(q, k=10**6)
            assert len(got) == oracle300.match_count(q), q

    def test_limit_by_property(self, engine, oracle300):
        expected = oracle300.query("common0", k=10,
                                   limits={"lang": ("en", "en")})
        got = engine.search("common0", k=10, limits={"lang": ("en", "en")})
        assert [d for d, _ in got] == [d for d, _ in expected]

    def test_structure_mask(self, engine, oracle300):
        from swish_e_spark.textproc.extractor import IN_TITLE

        expected = oracle300.query("common0", k=10,
                                   structure_mask=IN_TITLE)
        got = engine.search("common0", k=10, structure_mask=IN_TITLE)
        assert [d for d, _ in got] == [d for d, _ in expected]


class TestExhaustivePruning:
    """Chunk doc-range intersection on the exhaustive positional path
    (_prune_required_chunks): rank identity must hold with pruning
    forced on, and a rare-AND-head query must actually drop head-term
    chunks (the index is built with chunk_docs=64 so head terms span
    several chunks)."""

    PRUNE_QUERIES = [
        "pigs AND wolf",
        '"three little pigs"',
        '"once upon a time"',
        "little NEAR5 wolf",
        "upon near3 time",
        "tailterm0 AND common0",
        "tailterm0 NEAR5 common0",
        '"tailterm0 common0"',
        "(pigs OR sugar) AND NOT wolf",
    ]

    @pytest.mark.parametrize("q", PRUNE_QUERIES)
    def test_rank_identity_with_pruning(self, q, engine, oracle300):
        engine.exh_prune_min_docs = 0
        try:
            expected = oracle300.query(q, k=10)
            got = [(r["doc_id"], r["score"]) for r in
                   engine.search_df(q, 10, wand="off").collect()]
        finally:
            engine.exh_prune_min_docs = engine.EXH_PRUNE_MIN_DOCS
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (_, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-6), q

    def test_head_chunks_pruned(self, engine, oracle300):
        """tailterm0 lives in few docs; common0 spans many 64-doc
        chunks — the non-overlapping common0 chunks must be dropped
        before decode, and the match set must not change."""
        engine.exh_prune_min_docs = 0
        try:
            got = [(r["doc_id"], r["score"]) for r in
                   engine.search_df("tailterm0 NEAR5 common0", 10**6,
                                    wand="off").collect()]
            stats = engine.last_exh_stats
        finally:
            engine.exh_prune_min_docs = engine.EXH_PRUNE_MIN_DOCS
        assert stats is not None
        assert stats["chunks_pruned"] > 0, stats
        assert stats["chunks_pruned"] < stats["chunks_total"]
        expected = oracle300.query("tailterm0 NEAR5 common0", k=10**6)
        assert [d for d, _ in got] == [d for d, _ in expected]

    def test_gate_off_below_min_docs(self, engine):
        """Default gate: tiny index (300 docs) never pays the metadata
        planning job."""
        engine.search_df("pigs AND wolf", 5, wand="off").collect()
        assert engine.last_exh_stats is None


class TestResume:
    def test_kill_and_resume(self, spark, tmp_path):
        out = str(tmp_path / "idx")
        pages = generate_pages_df(spark, 120, partitions=4)
        cfg = IndexConfig(n_buckets=4)
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(spark, pages, out, cfg, n_shards=3,
                        fail_after_shard=1)
        # shards 0,1 committed; record mtimes
        m0 = os.path.getmtime(os.path.join(out, "_manifest",
                                           "shard_0.json"))
        assert not os.path.exists(os.path.join(out, "_manifest",
                                               "shard_2.json"))
        meta = build_index(spark, pages, out, cfg, n_shards=3)
        assert meta["complete"]
        # resume did NOT recompute shard 0 (manifest untouched)
        assert os.path.getmtime(os.path.join(
            out, "_manifest", "shard_0.json")) == m0
        # full index equals a fresh single-run build
        out2 = str(tmp_path / "idx2")
        meta2 = build_index(spark, pages, out2, cfg, n_shards=3)
        assert meta2["doc_count"] == meta["doc_count"]
        assert meta2["posting_count"] == meta["posting_count"]
        assert meta2["token_count"] == meta["token_count"]
