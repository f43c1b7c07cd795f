"""Resident serving path: ``search()`` answered in-process from the
driver-memory copy of the index (``IndexHandle.resident``).

Every case asserts which path ran (``engine.last_search_path``), so a
silent fallback to Spark cannot make a resident check vacuous. The
Spark path of record is ``search_df(wand="off")``; the normative one is
``OracleIndex``."""

import shutil

import pytest

from swish_e_spark.datagen.pages import doctype_of_url
from swish_e_spark.index.builder import (
    IndexConfig, IndexHandle, build_index, generate_pages_df,
)
from swish_e_spark.index.maintenance import (
    compact_index, expire_snapshots, merge_indexes, remove_documents,
    update_documents,
)
from swish_e_spark.oracle.engine import OracleIndex
from swish_e_spark.query.executor import SparkQueryEngine
from swish_e_spark.query.parser import QueryError, WordsTooCommon
from swish_e_spark.textproc.extractor import IN_TITLE
from swish_e_spark.textproc.tokenizer import TokenizerConfig

CFG = dict(n_buckets=8, buzzwords=("c++",), chunk_docs=64,
           salt_threshold=32, flush_docs=50)

FAMILIES = {
    "term": "pigs",
    "and": "pigs AND wolf",
    "or": "pigs OR sugar",
    "andnot": "common0 NOT wolf",
    "phrase": '"three little pigs"',
    "near": "little NEAR5 wolf",
    "field": "meta1=metatest1",
    "prefix": "tail*",
    "field_prefix": "meta1=metatest*",
    "pattern": "li?tle",
    "pattern_star": "c*mmon0",
    "nested": "(pigs OR wolf) AND NOT meta1=metatest1",
}
STATE_QUERIES = ["pigs", "pigs AND wolf", '"three little pigs"',
                 "common0 NOT wolf", "tail*", "upon near3 time"]


def _spark_top(engine, q, k=10, structure_mask=None):
    return [(r["doc_id"], r["score"]) for r in
            engine.search_df(q, k, structure_mask=structure_mask,
                             wand="off").collect()]


def _resident_top(engine, q, k=10, **kw):
    got = engine.search(q, k=k, **kw)
    assert engine.last_search_path == "resident", q
    return got


def _assert_same(got, want, rel, what):
    assert [d for d, _ in got] == [d for d, _ in want], what
    for (_, g), (_, w) in zip(got, want):
        assert g == pytest.approx(w, rel=rel), what


def _by_url(engine, ranked):
    url = {r["doc_id"]: r["url"] for r in
           engine.handle.docs().select("doc_id", "url").collect()}
    return [(url[d], s) for d, s in ranked]


def _oracle_over(corpus):
    idx = OracleIndex(TokenizerConfig(buzzwords=frozenset({"c++"})))
    for r in corpus:
        idx.add(r["url"], r["html"], doctype=doctype_of_url(r["url"]),
                lang=r["lang"], warc_ts=r["warc_ts"])
    return idx.build()


def _oracle_by_url(oracle, q, k=10):
    return [(oracle.docs[d]["url"], s) for d, s in oracle.query(q, k=k)]


def _check_state(engine, oracle, queries, k=1000):
    """Resident search() == search_df(wand="off") on the same handle,
    and == the oracle over the state's logical corpus (by url: doc ids
    of an updated or merged index are not the oracle's). k covers every
    match, so ties cut at k cannot reorder across the two id spaces."""
    for q in queries:
        got = _resident_top(engine, q, k)
        _assert_same(got, _spark_top(engine, q, k), 1e-9, q)
        if oracle is not None:
            assert sorted((u, round(s, 6)) for u, s in
                          _by_url(engine, got)) == \
                sorted((u, round(s, 6)) for u, s in
                       _oracle_by_url(oracle, q, k)), q
    # stats from the loaded arrays == the Spark stats job
    spark_stats = IndexHandle(engine.spark, engine.handle.out_dir,
                              snapshot=engine.handle.snapshot).stats
    assert engine.handle.stats == spark_stats


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages_df(spark, 300, partitions=6)


@pytest.fixture(scope="module")
def fresh(spark, tmp_path_factory, pages):
    out = str(tmp_path_factory.mktemp("resfresh"))
    build_index(spark, pages, out, IndexConfig(**CFG), n_shards=2)
    return SparkQueryEngine(spark, IndexHandle(spark, out))


@pytest.fixture(scope="module")
def updated(spark, tmp_path_factory, pages, corpus300):
    """Built from the first 250 urls (one shard, snapshot s1), then
    update_documents with urls[200:] — 50 replaced (tombstones) and 50
    new, in a second shard. Logical corpus: all 300 pages."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("resupd") / "idx")
    urls = sorted(r["url"] for r in corpus300)
    build_index(spark, pages.filter(F.col("url") < urls[250]), out,
                IndexConfig(**CFG), n_shards=1)
    s1 = IndexHandle(spark, out).meta["snapshot"]
    update_documents(spark, pages.filter(F.col("url") >= urls[200]), out)
    return out, s1, [r for r in corpus300 if r["url"] < urls[250]]


class TestRankIdentity:
    @pytest.mark.parametrize("family", sorted(FAMILIES))
    def test_family(self, family, fresh, oracle300):
        q = FAMILIES[family]
        got = _resident_top(fresh, q)
        assert got, q
        _assert_same(got, oracle300.query(q, k=10), 1e-6, q)
        _assert_same(got, _spark_top(fresh, q), 1e-9, q)

    @pytest.mark.parametrize("q", ["common0", '"three little pigs"',
                                   "pigs OR wolf"])
    def test_structure_mask(self, q, fresh, oracle300):
        got = _resident_top(fresh, q, structure_mask=IN_TITLE)
        _assert_same(got, oracle300.query(q, k=10,
                                          structure_mask=IN_TITLE),
                     1e-6, q)
        _assert_same(got, _spark_top(fresh, q, structure_mask=IN_TITLE),
                     1e-9, q)

    @pytest.mark.parametrize("q", ["NOT pigs", "wolf AND (NOT pigs)",
                                   "sugar AND (NOT pigs)"])
    def test_unary_not_is_resident(self, q, fresh, oracle300):
        got = _resident_top(fresh, q)
        _assert_same(got, oracle300.query(q, k=10), 1e-6, q)
        _assert_same(got, _spark_top(fresh, q), 1e-9, q)

    def test_all_matches(self, fresh, oracle300):
        # k past every match, including the huge-k range the Spark
        # path serves through match_df
        for k in (10 ** 6, 1 << 21):
            got = _resident_top(fresh, "common0", k)
            assert len(got) == oracle300.match_count("common0")

    def test_open_runs_no_spark_job(self, spark, fresh):
        """Opening an engine and answering a query run zero Spark
        jobs: the handle's stats come from the loaded docs arrays."""
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup())
        eng = SparkQueryEngine(spark, IndexHandle(spark,
                                                  fresh.handle.out_dir))
        _ = eng.handle.stats
        _resident_top(eng, '"three little pigs"')
        assert set(tracker.getJobIdsForGroup()) == before
        # the tracker does see the Spark path's jobs
        eng.search_df('"three little pigs"', 10, wand="off").collect()
        assert set(tracker.getJobIdsForGroup()) - before

    def test_chunks_load_on_first_search(self, spark, fresh):
        """Engines that never call search() never load the chunks."""
        eng = SparkQueryEngine(spark, IndexHandle(spark,
                                                  fresh.handle.out_dir))
        eng.search_df("pigs", 10, wand="off").collect()
        eng.search("pigs", limits={"lang": ("en", "en")})
        assert "chunks" not in vars(eng._resident)
        _resident_top(eng, "pigs")
        assert "chunks" in vars(eng._resident)


class TestIndexStates:
    def test_fresh(self, fresh, oracle300):
        _check_state(fresh, oracle300, STATE_QUERIES)

    def test_after_update(self, spark, updated, oracle300):
        out, _, _ = updated
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng.handle.removed() is not None
        assert len(eng.handle.meta["files"]["segments"]) == 2
        _check_state(eng, oracle300, STATE_QUERIES)

    def test_snapshot_handle(self, spark, updated):
        out, s1, corpus_a = updated
        eng = SparkQueryEngine(spark, IndexHandle(spark, out, snapshot=s1))
        _check_state(eng, _oracle_over(corpus_a), STATE_QUERIES)

    def test_after_merge(self, spark, tmp_path_factory, pages, corpus300,
                         oracle300):
        from pyspark.sql import functions as F

        base = tmp_path_factory.mktemp("resmerge")
        urls = sorted(r["url"] for r in corpus300)
        a_dir, b_dir, out = (str(base / n) for n in ("a", "b", "out"))
        build_index(spark, pages.filter(F.col("url") < urls[200]), a_dir,
                    IndexConfig(**CFG), n_shards=2)
        build_index(spark, pages.filter(F.col("url") >= urls[150]),
                    b_dir, IndexConfig(**CFG), n_shards=1)
        merge_indexes(spark, [a_dir, b_dir], out)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert any(eng.handle.shard_bases.values())
        _check_state(eng, oracle300, STATE_QUERIES)

    def test_after_compact_and_expiry(self, spark, tmp_path, updated,
                                      oracle300):
        src, _, _ = updated
        out = str(tmp_path / "idx")
        shutil.copytree(src, out)
        s2 = IndexHandle(spark, out).meta["snapshot"]
        compact_index(spark, out)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng.handle.removed() is None
        _check_state(eng, oracle300, STATE_QUERIES)
        # the pre-compact version (tombstones, two shards) through its
        # pinned manifest, then its expiry
        pinned = SparkQueryEngine(spark,
                                  IndexHandle(spark, out, snapshot=s2))
        _check_state(pinned, oracle300, STATE_QUERIES[:2])
        unread = SparkQueryEngine(spark,
                                  IndexHandle(spark, out, snapshot=s2))
        expire_snapshots(out, keep_last=1)
        for eng in (pinned, unread):
            with pytest.raises(RuntimeError, match="expired"):
                eng.search("pigs")


class TestErrorsAndEmpty:
    @pytest.fixture
    def pair(self, spark, fresh, monkeypatch):
        """(resident engine, Spark-path engine) over one index."""
        monkeypatch.setattr(SparkQueryEngine, "RESIDENT_MAX_BYTES", 0)
        spark_eng = SparkQueryEngine(spark, IndexHandle(
            spark, fresh.handle.out_dir))
        return fresh, spark_eng

    @pytest.mark.parametrize("q", ["", "   ", "((pigs", "pigs)", "AND",
                                   '"unclosed', "*igs", "meta1=",
                                   "the", "the AND of"])
    def test_bad_queries_raise_alike(self, q, pair):
        res, spk = pair
        with pytest.raises(QueryError) as want:
            spk.search(q)
        with pytest.raises(type(want.value)) as got:
            res.search(q)
        assert str(got.value) == str(want.value)
        assert res._resident is not None

    def test_all_stopwords_is_words_too_common(self, fresh):
        with pytest.raises(WordsTooCommon):
            fresh.search("the")

    @pytest.mark.parametrize("q", ["zzzzqqq", "zzzzqqq AND pigs",
                                   '"pigs zzzzqqq"', "zzzzq*",
                                   "nosuchfield=pigs", "%%% $$$ \x00\xff"])
    def test_no_match_is_empty(self, q, pair):
        res, spk = pair
        try:
            want = spk.search(q)
        except QueryError as ex:
            with pytest.raises(type(ex)):
                res.search(q)
            return
        assert spk.last_search_path == "spark"
        assert _resident_top(res, q) == want == []

    def test_stale_handle_raises_like_spark(self, spark, tmp_path, fresh,
                                            monkeypatch, corpus300):
        out = str(tmp_path / "idx")
        shutil.copytree(fresh.handle.out_dir, out)
        res = SparkQueryEngine(spark, IndexHandle(spark, out))
        monkeypatch.setattr(SparkQueryEngine, "RESIDENT_MAX_BYTES", 0)
        spk = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert res._resident is not None and spk._resident is None
        remove_documents(spark, out, [sorted(r["url"]
                                             for r in corpus300)[0]])
        with pytest.raises(RuntimeError) as want:
            spk.search("pigs")
        with pytest.raises(RuntimeError) as got:
            res.search("pigs")
        assert str(got.value).replace(out, "") == \
            str(want.value).replace(out, "")
        assert "changed since" in str(got.value)
        # an engine opened over the stale handle fails at once
        with pytest.raises(RuntimeError, match="changed since"):
            SparkQueryEngine(spark, res.handle)


class TestSparkFallback:
    def test_limits_take_spark(self, fresh, oracle300):
        lim = {"lang": ("en", "en")}
        got = fresh.search("common0", k=10, limits=lim)
        assert fresh.last_search_path == "spark"
        _assert_same(got, oracle300.query("common0", k=10, limits=lim),
                     1e-6, "limits")

    def test_over_budget_takes_spark(self, spark, fresh, oracle300,
                                     monkeypatch):
        monkeypatch.setattr(SparkQueryEngine, "RESIDENT_MAX_BYTES", 0)
        eng = SparkQueryEngine(spark, IndexHandle(spark,
                                                  fresh.handle.out_dir))
        assert eng._resident is None
        for q in ["pigs AND wolf", '"three little pigs"', "tail*"]:
            got = eng.search(q, k=10)
            assert eng.last_search_path == "spark"
            _assert_same(got, oracle300.query(q, k=10), 1e-6, q)
