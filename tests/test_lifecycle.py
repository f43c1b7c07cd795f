"""Index lifecycle (merge/update/remove), swish-compat ranking, result
surface, and block-max WAND pruning tests."""

import pytest

from swish_e_spark.datagen.pages import doctype_of_url
from swish_e_spark.index.builder import (
    IndexConfig, IndexHandle, build_index, generate_pages_df,
)
from swish_e_spark.index.maintenance import (
    merge_indexes, remove_documents, update_documents,
)
from swish_e_spark.oracle.engine import OracleIndex
from swish_e_spark.query.executor import SparkQueryEngine
from swish_e_spark.query.output import (
    format_results, info, keywords, ranked_results,
)
from swish_e_spark.query.swishrank import (
    display_scale, oracle_swish_query, spark_swish_search,
)
from swish_e_spark.textproc.tokenizer import TokenizerConfig

N = 300
CFG = dict(n_buckets=8, buzzwords=("c++",), chunk_docs=64,
           salt_threshold=32, flush_docs=50)

QUERIES = ["pigs", "pigs AND wolf", "pigs OR sugar",
           '"three little pigs"', "common0 NOT wolf",
           "meta1=metatest1"]


def _assert_rank_identity(engine_result, oracle_result):
    assert len(engine_result) == len(oracle_result)
    for (ed, es), (od, osc) in zip(engine_result, oracle_result):
        assert ed == od
        assert es == pytest.approx(osc, rel=1e-6)


def _assert_rank_identity_by_url(engine, q, oracle, k=10):
    """Rank identity when engine doc_ids are rebased (merge/update):
    score sequences must match and every returned url must carry the
    same score in the oracle — tie order on rebased ids may differ."""
    got = engine.search(q, k=k)
    want = oracle.query(q, k=k)
    assert len(got) == len(want)
    for (_, es), (_, osc) in zip(got, want):
        assert es == pytest.approx(osc, rel=1e-6)
    ext = dict(oracle.query(q, k=k + 50))
    oracle_url_score = {oracle.docs[d]["url"]: s for d, s in ext.items()}
    for url, (_, es) in zip(_urls_of(engine, [d for d, _ in got]), got):
        assert url in oracle_url_score
        assert es == pytest.approx(oracle_url_score[url], rel=1e-6)


def _oracle_over(corpus):
    idx = OracleIndex(TokenizerConfig(buzzwords=frozenset({"c++"})))
    for r in corpus:
        idx.add(r["url"], r["html"], doctype=doctype_of_url(r["url"]),
                lang=r["lang"], warc_ts=r["warc_ts"])
    return idx.build()


class TestMergeUpdateRemove:
    @pytest.fixture(scope="class")
    def merged_engine(self, spark, tmp_path_factory, corpus300):
        from pyspark.sql import functions as F

        base = tmp_path_factory.mktemp("merge")
        pages = generate_pages_df(spark, N, partitions=6)
        urls = sorted(r["url"] for r in corpus300)
        cut_hi = urls[200]   # A = first 200 urls
        cut_lo = urls[150]   # B = last 150 urls (overlap 50)
        a_dir, b_dir, out = (str(base / n) for n in ("a", "b", "out"))
        build_index(spark, pages.filter(F.col("url") < cut_hi), a_dir,
                    IndexConfig(**CFG), n_shards=2)
        build_index(spark, pages.filter(F.col("url") >= cut_lo), b_dir,
                    IndexConfig(**CFG), n_shards=1)
        meta = merge_indexes(spark, [a_dir, b_dir], out)
        assert meta["complete"] and meta["n_shards"] == 3
        return SparkQueryEngine(spark, IndexHandle(spark, out))

    def test_merged_live_docs(self, merged_engine, oracle300):
        # net of robots-noindex pages, duplicates tombstoned
        assert merged_engine.handle.stats["n_docs"] == oracle300.n_docs
        live = merged_engine.handle.live_docs()
        assert live.count() == oracle300.n_docs
        assert live.select("url").distinct().count() == oracle300.n_docs

    @pytest.mark.parametrize("q", QUERIES)
    def test_merged_rank_identity(self, q, merged_engine, oracle300):
        # merged doc_ids are rebase offsets, not a from-scratch dense
        # assignment — compare by url; scores must still be identical
        # because surviving postings and net stats are identical
        _assert_rank_identity_by_url(merged_engine, q, oracle300)

    def test_nested_merge_rank_identity(self, spark, tmp_path_factory,
                                        corpus300, oracle300):
        """merge(merge(A,B), C): the outer merge must COMPOSE the
        inner merge's shard_bases (ADVICE r1: copying only the new
        cumulative base silently decoded wrong doc_ids for the nested
        shards)."""
        from pyspark.sql import functions as F

        base = tmp_path_factory.mktemp("nestmerge")
        pages = generate_pages_df(spark, N, partitions=6)
        urls = sorted(r["url"] for r in corpus300)
        c1, c2 = urls[100], urls[200]
        a_dir, b_dir, c_dir, ab, out = (
            str(base / n) for n in ("a", "b", "c", "ab", "out"))
        build_index(spark, pages.filter(F.col("url") < c1), a_dir,
                    IndexConfig(**CFG), n_shards=2)
        build_index(spark, pages.filter((F.col("url") >= c1)
                                        & (F.col("url") < c2)), b_dir,
                    IndexConfig(**CFG), n_shards=1)
        build_index(spark, pages.filter(F.col("url") >= c2), c_dir,
                    IndexConfig(**CFG), n_shards=1)
        merge_indexes(spark, [a_dir, b_dir], ab)   # AB has shard_bases
        meta = merge_indexes(spark, [ab, c_dir], out)
        assert meta["complete"]
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng.handle.stats["n_docs"] == oracle300.n_docs
        for q in QUERIES[:4]:
            _assert_rank_identity_by_url(eng, q, oracle300)

    def test_update_replaces(self, spark, tmp_path, corpus300,
                             oracle300):
        from pyspark.sql import functions as F

        out = str(tmp_path / "upd")
        pages = generate_pages_df(spark, N, partitions=6)
        urls = sorted(r["url"] for r in corpus300)
        cut = urls[250]
        build_index(spark, pages.filter(F.col("url") < cut), out,
                    IndexConfig(**CFG), n_shards=1)
        # update batch: the last 50 urls plus 20 re-submitted ones
        batch = pages.filter((F.col("url") >= cut)
                             | (F.col("url") < urls[20]))
        res = update_documents(spark, batch, out)
        # 20 re-submitted urls, minus any robots-noindex among them
        assert 15 <= res["replaced"] <= 20
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng.handle.stats["n_docs"] == oracle300.n_docs
        for q in QUERIES[:4]:
            _assert_rank_identity_by_url(eng, q, oracle300)

    def test_remove_documents(self, spark, tmp_path, corpus300):
        out = str(tmp_path / "rm")
        pages = generate_pages_df(spark, N, partitions=6)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        victims = sorted(r["url"] for r in corpus300)[:10]
        n = remove_documents(spark, out, victims)
        assert n == 10
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        survivors = [r for r in corpus300 if r["url"] not in set(victims)]
        oracle = _oracle_over(survivors)
        assert eng.handle.stats["n_docs"] == oracle.n_docs
        for q in ["pigs", "pigs AND wolf", "common0 NOT wolf"]:
            # doc_ids differ between engine (dense over N) and oracle
            # (dense over N-10): compare by url, tie-robust
            _assert_rank_identity_by_url(eng, q, oracle)

    def test_resume_honors_manifest_shard_count(self, spark, tmp_path):
        """A retry with a DIFFERENT n_shards must not drop shard
        ranges: the manifest's shard plan wins on resume (regression:
        resuming a failed 2-shard build with the default n_shards=1
        marked the index complete with half the corpus missing)."""
        out = str(tmp_path / "resume_ns")
        ref = str(tmp_path / "resume_ref")
        pages = generate_pages_df(spark, 120, partitions=4)
        cfg = IndexConfig(n_buckets=4)
        # reference: clean 2-shard build (robots-noindex pages make
        # doc_count < 120, so compare against a full build, not 120)
        want = build_index(spark, pages, ref, cfg, n_shards=2,
                           resume=False)["doc_count"]
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(spark, pages, out, cfg, n_shards=2,
                        resume=False, fail_after_shard=0)
        meta = build_index(spark, pages, out, cfg)  # default n_shards=1
        assert meta["n_shards"] == 2
        assert meta["doc_count"] == want
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng.handle.stats["n_docs"] == want

    def test_fresh_build_invalidates_stale_shard_manifests(
            self, spark, tmp_path):
        """resume=False starts a new build epoch: shard manifests of
        the PREVIOUS build must not let a later resume skip shards
        whose data belongs to the old input under the new bounds."""
        out = str(tmp_path / "fresh")
        pages = generate_pages_df(spark, 120, partitions=4)
        cfg = IndexConfig(n_buckets=4)
        want = build_index(spark, pages, out, cfg, n_shards=2,
                           resume=False)["doc_count"]
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(spark, pages, out, cfg, n_shards=2,
                        resume=False, fail_after_shard=0)
        meta = build_index(spark, pages, out, cfg, n_shards=2)
        assert meta["complete"] and meta["doc_count"] == want

    def test_merge_rejects_incompatible_configs(self, spark, tmp_path):
        a, b, out = (str(tmp_path / d) for d in ("ca", "cb", "cm"))
        pages = generate_pages_df(spark, 60, partitions=2)
        build_index(spark, pages, a, IndexConfig(n_buckets=4),
                    n_shards=1)
        build_index(spark, pages, b, IndexConfig(n_buckets=8),
                    n_shards=1)
        with pytest.raises(ValueError, match="n_buckets"):
            merge_indexes(spark, [a, b], out)

    def test_merge_accepts_tuning_differences(self, spark, tmp_path):
        """salt_partitions (reducer fan-out) and the source-selection
        rules are build knobs, not token semantics — indexes differing
        only there hold byte-compatible segments and must merge."""
        a, b, out = (str(tmp_path / d) for d in ("tu_a", "tu_b", "tu_m"))
        pages = generate_pages_df(spark, 60, partitions=2)
        urls = sorted(r.url for r in pages.select("url").collect())
        cut = urls[30]
        build_index(spark, pages.filter(pages.url < cut), a,
                    IndexConfig(**{**CFG, "salt_partitions": 4}),
                    n_shards=1)
        build_index(spark, pages.filter(pages.url >= cut), b,
                    IndexConfig(**{**CFG, "salt_partitions": 16,
                                   "file_filters": (("%.gz", "gzip"),)}),
                    n_shards=1)
        merge_indexes(spark, [a, b], out)
        h = IndexHandle(spark, out)
        assert h.stats["n_docs"] == h.live_docs().count() > 0

    def test_repeated_update_tombstones_live_copy_only(
            self, spark, tmp_path, corpus300):
        """Each update of an url appends exactly ONE tombstone (the
        live copy) — re-tombstoning the already-dead prior copies
        would grow removed/ quadratically under a streaming re-crawl
        that resubmits the same urls every batch."""
        out = str(tmp_path / "requpd")
        pages = generate_pages_df(spark, 60, partitions=2)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        url = sorted(r["url"] for r in corpus300[:60])[0]
        upd = pages.filter(pages.url == url)
        for _ in range(3):
            assert update_documents(spark, upd, out)["replaced"] == 1
        h = IndexHandle(spark, out)
        removed = h.removed()
        assert removed.filter(removed.url == url).count() == 3
        live = h.live_docs()
        assert live.filter(live.url == url).count() == 1

    def test_merge_carries_auto_stopwords(self, spark, tmp_path):
        from swish_e_spark.index.maintenance import apply_ignore_limit

        a, b, out = (str(tmp_path / d) for d in ("sa", "sb", "sm"))
        pages = generate_pages_df(spark, 120, partitions=4)
        build_index(spark, pages, a, IndexConfig(**CFG), n_shards=1)
        build_index(spark, pages, b, IndexConfig(**CFG), n_shards=1)
        stopped = apply_ignore_limit(spark, a, plimit=30, flimit=5)
        assert "common0" in stopped
        meta = merge_indexes(spark, [a, b], out)
        # the stopped terms' postings were copied verbatim; dropping
        # the list would resurrect them in the merged index
        assert set(stopped) <= set(meta["auto_stopwords"])

    def test_merge_target_must_not_exist(self, spark, tmp_path):
        a, out = str(tmp_path / "ta"), str(tmp_path / "tout")
        pages = generate_pages_df(spark, 60, partitions=2)
        build_index(spark, pages, a, IndexConfig(n_buckets=4),
                    n_shards=1)
        import os
        os.makedirs(out)
        open(os.path.join(out, "junk"), "w").close()
        with pytest.raises(ValueError, match="already exists"):
            merge_indexes(spark, [a], out)

    def test_crashed_update_leaves_index_refusing_to_open(
            self, spark, tmp_path, monkeypatch):
        """A crash mid-update must never serve the new shard's docs
        alongside their un-tombstoned old versions: the update window
        marks the manifest incomplete before any data commits."""
        import swish_e_spark.index.maintenance as M

        out = str(tmp_path / "crashupd")
        pages = generate_pages_df(spark, 60, partitions=2)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)

        def boom(*a, **kw):
            raise RuntimeError("injected update crash")

        monkeypatch.setattr(M, "_build_shard", boom)
        with pytest.raises(RuntimeError, match="injected update"):
            update_documents(spark, pages.limit(5), out)
        with pytest.raises(ValueError, match="incomplete"):
            IndexHandle(spark, out)

    def test_remove_after_update_counts_live_docs_only(
            self, spark, tmp_path, corpus300):
        out = str(tmp_path / "rmu")
        pages = generate_pages_df(spark, 60, partitions=2)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        url = sorted(r["url"] for r in corpus300[:60])[0]
        upd = pages.filter(pages.url == url)
        res = update_documents(spark, upd, out)
        assert res["replaced"] == 1
        # one live doc carries the url now; the superseded version is
        # already tombstoned and must not be re-counted
        assert remove_documents(spark, out, [url]) == 1

    def test_stale_engine_errors_after_maintenance(self, spark,
                                                   tmp_path, corpus300):
        """The engine's lossless per-handle caches (dictionary, θ,
        rare docs) are only valid for the index state the handle was
        opened on. An in-place maintenance op must turn the old engine
        into a loud RuntimeError, never silently stale results."""
        out = str(tmp_path / "stale")
        pages = generate_pages_df(spark, N, partitions=6)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng.search("pigs", k=5)  # warm the caches
        victims = sorted(r["url"] for r in corpus300)[:3]
        assert remove_documents(spark, out, victims) == 3
        with pytest.raises(RuntimeError, match="changed since"):
            eng.search("pigs", k=5)
        with pytest.raises(RuntimeError, match="changed since"):
            eng.match_df("pigs")
        with pytest.raises(RuntimeError, match="changed since"):
            spark_swish_search(eng, "pigs", k=5)
        # a fresh handle+engine over the mutated index works
        eng2 = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng2.search("pigs", k=5)


def _urls_of(engine, doc_ids):
    ddf = engine.handle.docs()
    docs = {r["doc_id"]: r["url"]
            for r in ddf.filter(ddf.doc_id.isin([int(d)
                                                 for d in doc_ids]))
            .select("doc_id", "url").collect()}
    return [docs[d] for d in doc_ids]


class TestSwishRank:
    @pytest.fixture(scope="class")
    def engine(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("swishrank"))
        pages = generate_pages_df(spark, N, partitions=6)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=2)
        return SparkQueryEngine(spark, IndexHandle(spark, out))

    @pytest.mark.parametrize("scheme", [0, 1])
    @pytest.mark.parametrize("q", ["pigs", "pigs AND wolf",
                                   '"three little pigs"',
                                   "pigs OR sugar", "meta1=metatest*",
                                   "little NEAR5 wolf", "NOT pigs",
                                   "pigs NOT wolf", "p?gs", "pig*"])
    def test_rank_identity(self, q, scheme, engine, oracle300):
        itwc = scheme != 1  # -R 1 demands stored word counts
        got = spark_swish_search(engine, q, k=10, scheme=scheme,
                                 ignore_total_word_count=itwc)
        want = oracle_swish_query(oracle300, q, k=10, scheme=scheme,
                                  ignore_total_word_count=itwc)
        assert got == want

    @pytest.mark.parametrize("scheme", [0, 1])
    def test_rank_identity_after_remove(self, spark, tmp_path_factory,
                                        corpus300, scheme):
        """Tombstones change n_docs, TotalWordPos and df: the ranks of
        an index with removed docs equal the oracle's over the
        survivors (compared by url; the two number docs differently)."""
        out = str(tmp_path_factory.mktemp("swishrm"))
        pages = generate_pages_df(spark, N, partitions=6)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        victims = set(sorted(r["url"] for r in corpus300)[::7])
        # a robots-noindex victim was never indexed
        assert 0 < remove_documents(spark, out, sorted(victims)) <= \
            len(victims)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        oracle = _oracle_over(
            [r for r in corpus300 if r["url"] not in victims])
        itwc = scheme != 1
        for q in ["pigs", "pigs AND wolf", "pigs OR sugar", "NOT wolf"]:
            got = spark_swish_search(eng, q, k=10, scheme=scheme,
                                     ignore_total_word_count=itwc)
            want = oracle_swish_query(oracle, q, k=10, scheme=scheme,
                                      ignore_total_word_count=itwc)
            assert got and [r for _, r in got] == [r for _, r in want]
            rank_by_url = {
                oracle.docs[d]["url"]: r
                for d, r in oracle_swish_query(
                    oracle, q, k=N, scheme=scheme,
                    ignore_total_word_count=itwc)}
            urls = _urls_of(eng, [d for d, _ in got])
            assert [rank_by_url[u] for u in urls] == [r for _, r in got]

    def test_spark_paths_leave_no_persisted_rdds(self, spark, engine):
        """A long-lived engine must not pile up cached blocks: the
        Spark query paths persist nothing they do not release."""
        persisted = spark.sparkContext._jsc.getPersistentRDDs
        before = len(persisted())
        spark_swish_search(engine, '"three little pigs"', k=5)
        spark_swish_search(engine, "pig* OR NOT wolf", k=5, scheme=1,
                           ignore_total_word_count=False)
        engine.search_df("pigs AND wolf", 10, wand="off").collect()
        engine.match_df("little NEAR5 wolf").collect()
        assert len(persisted()) <= before

    def test_display_scale(self):
        scaled = display_scale([(1, 5000), (2, 4000), (3, 2)])
        assert scaled == [(1, 1000), (2, 800), (3, 1)]
        assert display_scale([]) == []


class TestResultSurface:
    @pytest.fixture(scope="class")
    def engine(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("outsurface"))
        pages = generate_pages_df(spark, N, partitions=6)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        return SparkQueryEngine(spark, IndexHandle(spark, out))

    def test_rank_sort_with_props(self, engine, oracle300):
        rows = ranked_results(engine, "pigs AND wolf", k=5,
                              props=["url", "title", "size"])
        want = oracle300.query("pigs AND wolf", k=5)
        assert [r["doc_id"] for r in rows] == [d for d, _ in want]
        assert all(r["url"] and r["title"] is not None for r in rows)
        assert [r["reccount"] for r in rows] == [1, 2, 3, 4, 5]

    def test_property_sort(self, engine):
        rows = ranked_results(engine, "pigs", k=8,
                              props=["url"],
                              sort=[("swishdocpath", "asc")])
        urls = [r["url"] for r in rows]
        assert urls == sorted(urls)
        rows_d = ranked_results(engine, "pigs", k=8, props=["url"],
                                sort=[("url", "desc")])
        urls_d = [r["url"] for r in rows_d]
        assert urls_d == sorted(urls_d, reverse=True)

    def test_pagination(self, engine):
        full = ranked_results(engine, "pigs", k=15, props=["url"])
        page = ranked_results(engine, "pigs", k=5, begin=5,
                              props=["url"])
        assert [r["doc_id"] for r in page] == \
            [r["doc_id"] for r in full[5:10]]
        assert [r["reccount"] for r in page] == [6, 7, 8, 9, 10]

    def test_format(self, engine):
        rows = ranked_results(engine, "pigs", k=2,
                              props=["url", "title", "size"])
        lines = format_results(rows, '%r %p "%t" %l')
        assert len(lines) == 2
        assert rows[0]["url"] in lines[0]
        ext = format_results(rows, "%c\\t<url>\\n")
        assert ext[0].startswith("1\t")
        assert ext[0].endswith("\n")

    def test_keywords(self, engine, oracle300):
        kws = keywords(engine.handle, startswith="pig")
        got = {t for t, _, _ in kws}
        want = {t for (f, t) in oracle300.postings
                if t.startswith("pig")}
        assert got == want
        for term, df, cf in kws:
            slot = {d for (f, t), s in oracle300.postings.items()
                    if t == term for d in s}
            assert df == len(slot)

    def test_info(self, engine, oracle300):
        meta = info(engine.handle)
        assert meta["doc_count"] == oracle300.n_docs
        assert meta["live_doc_count"] == oracle300.n_docs
        assert meta["removed_count"] == 0
        assert meta["avgdl"] == pytest.approx(oracle300.avgdl)


class TestWand:
    @pytest.fixture(scope="class")
    def engine(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("wand"))
        pages = generate_pages_df(spark, 1200, partitions=8)
        build_index(spark, pages, out,
                    IndexConfig(n_buckets=8, buzzwords=("c++",),
                                chunk_docs=32, salt_threshold=32,
                                flush_docs=50),
                    n_shards=1)
        return SparkQueryEngine(spark, IndexHandle(spark, out))

    @pytest.mark.parametrize("q", [
        "common0", "pigs OR wolf", "pigs AND wolf",
        "common0 NOT wolf", "common0 OR tailterm0",
        "(pigs AND wolf) OR sugar"])
    def test_wand_equals_exhaustive(self, q, engine):
        exact = engine.search_df(q, 10, wand="off").collect()
        wand = engine.search_df(q, 10, wand="force").collect()
        assert [(r["doc_id"], r["score"]) for r in wand] == \
            pytest.approx([(r["doc_id"], r["score"]) for r in exact])

    def test_wand_with_limits(self, engine):
        lim = {"lang": ("en", "en")}
        exact = engine.search_df("common0 OR wolf", 10, limits=lim,
                                 wand="off").collect()
        wand = engine.search_df("common0 OR wolf", 10, limits=lim,
                                wand="force").collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in wand] == \
            [(r["doc_id"], round(r["score"], 9)) for r in exact]

    def test_wand_prunes(self, spark, tmp_path_factory):
        # pruning requires score skew: on uniform-tf corpora block
        # bounds are flat and nothing can (or should) prune. Build a
        # corpus where 12 contiguous-url docs carry tf=30 of "zebra"
        # and 1000 docs carry tf=1 — light chunks must prune away.
        import pandas as pd

        rows = []
        for i in range(1000):
            rows.append((f"a{i:05d}.txt",
                         ("zebra " + "filler%d " % i) * 1))
        for i in range(12):
            rows.append((f"z{i:05d}.txt", "zebra " * 30))
        pdf = pd.DataFrame(rows, columns=["url", "text"])
        from pyspark.sql import functions as F

        pages = (spark.createDataFrame(pdf)
                 .select("url",
                         F.lit("2024-01-01").cast("timestamp")
                         .alias("warc_ts"),
                         F.encode("text", "utf-8").alias("html"),
                         F.col("text"),
                         # heavy docs en, light docs de: a lang limit
                         # can then exclude exactly the top scorers
                         F.when(F.col("url").startswith("z"),
                                F.lit("en")).otherwise(F.lit("de"))
                         .alias("lang")))
        out = str(tmp_path_factory.mktemp("wandskew"))
        build_index(spark, pages, out,
                    IndexConfig(n_buckets=4, chunk_docs=32,
                                salt_threshold=64, flush_docs=100,
                                stopwords=()),
                    n_shards=1)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        exact = eng.search_df("zebra", 10, wand="off").collect()
        wand = eng.search_df("zebra", 10, wand="force").collect()
        assert [(r["doc_id"], r["score"]) for r in wand] == \
            pytest.approx([(r["doc_id"], r["score"]) for r in exact])
        st = eng.last_wand_stats
        assert st["chunks_total"] > 10
        assert st["chunks_pruned"] > 0
        assert st["theta"] > 0
        # θ-safety under property limits: the heavy (tf=30) docs are
        # de-limited, so a θ seeded from them would over-prune the
        # light docs that ARE the limited top-k — the planner must
        # seed θ through the limit-aware Spark job in this case
        lim = {"lang": ("de", "de")}
        exact_lim = eng.search_df("zebra", 10, limits=lim,
                                  wand="off").collect()
        wand_lim = eng.search_df("zebra", 10, limits=lim,
                                 wand="force").collect()
        assert [(r["doc_id"], round(r["score"], 9))
                for r in wand_lim] == \
            [(r["doc_id"], round(r["score"], 9)) for r in exact_lim]
        assert len(exact_lim) == 10  # the limited set is non-trivial

    def test_wand_ineligible_falls_back(self, engine, spark):
        # phrase queries take the exact path — results still correct
        r = engine.search('"three little pigs"', k=5)
        assert r


class TestCompaction:
    def test_compact_preserves_results(self, spark, tmp_path,
                                       corpus300):
        from swish_e_spark.index.maintenance import (
            apply_ignore_limit, compact_index, remove_documents,
            update_documents,
        )

        out = str(tmp_path / "cmp")
        pages = generate_pages_df(spark, 300, partitions=6)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=2)
        victims = sorted(r["url"] for r in corpus300)[:8]
        remove_documents(spark, out, victims)
        stopped = apply_ignore_limit(spark, out, plimit=30, flimit=5)

        queries = ["pigs AND wolf", '"three little pigs"',
                   "pigs OR sugar", "meta1=metatest*"]

        meta = compact_index(spark, out)
        assert meta["compacted"] and meta["n_shards"] == 1
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        assert eng.handle.removed() is None

        # the compaction contract (adjustWordPositions parity,
        # index.c:1824-1924): the compacted index is IDENTICAL to one
        # built from scratch over the surviving docs with the stopped
        # words as index-time stopwords — positions renumbered, doc_len
        # shrunk, postings gone. Verify against exactly that index.
        from pyspark.sql import functions as F

        from swish_e_spark.textproc.stopwords import DEFAULT_STOPWORDS

        ref_out = str(tmp_path / "ref")
        ref_cfg = IndexConfig(
            **CFG, stopwords=tuple(DEFAULT_STOPWORDS | set(stopped)))
        build_index(spark, pages.filter(~F.col("url").isin(victims)),
                    ref_out, ref_cfg, n_shards=1)
        ref_eng = SparkQueryEngine(spark, IndexHandle(spark, ref_out))
        url_of = {r["doc_id"]: r["url"]
                  for r in eng.handle.docs().collect()}
        ref_url_of = {r["doc_id"]: r["url"]
                      for r in ref_eng.handle.docs().collect()}
        # doc_id tie-break differs between the two id spaces, so
        # compare the FULL result set as (url, rounded score) pairs
        for q in queries:
            after = {(url_of[d], round(s, 6))
                     for d, s in eng.search(q, k=1000)}
            want = {(ref_url_of[d], round(s, 6))
                    for d, s in ref_eng.search(q, k=1000)}
            assert after == want, q
        # stopped terms' postings are physically gone
        if stopped:
            tdf = eng.handle.terms()
            assert tdf.filter(tdf.term.isin(stopped[:5])).count() == 0
        # incremental update still works after compaction (id space
        # high-water mark preserved)
        from pyspark.sql import functions as F

        urls = sorted(r["url"] for r in corpus300)
        # re-submit urls 10..15 — live docs (the first 8 were removed)
        batch = pages.filter((F.col("url") >= urls[10])
                             & (F.col("url") < urls[15]))
        res = update_documents(spark, batch, out)
        assert res["replaced"] >= 1
        eng2 = SparkQueryEngine(spark, IndexHandle(spark, out))
        docs = eng2.handle.live_docs()
        assert docs.count() == docs.select("doc_id").distinct().count()
        assert docs.count() == docs.select("url").distinct().count()


    def test_chunkwise_matches_rowpath(self, spark, tmp_path,
                                       corpus300, monkeypatch):
        """Without IgnoreLimit stopwords compaction takes the
        chunk-level repack (packed bytes through the shuffle, r5);
        forcing the decoded-row path on a copy of the same index must
        give identical results and identical term statistics — two
        physical strategies, one semantic contract."""
        import shutil

        import swish_e_spark.index.maintenance as M
        from pyspark.sql import functions as F
        from swish_e_spark.index.maintenance import (
            compact_index, remove_documents,
        )

        a = str(tmp_path / "ca")
        pages = generate_pages_df(spark, 300, partitions=6)
        build_index(spark, pages, a, IndexConfig(**CFG), n_shards=2)
        victims = sorted(r["url"] for r in corpus300)[3:11]
        remove_documents(spark, a, victims)
        b = str(tmp_path / "cb")
        shutil.copytree(a, b)

        meta_a = compact_index(spark, a)          # chunk-level path
        monkeypatch.setattr(M, "_TOMBSTONE_DRIVER_CAP", -1)
        meta_b = compact_index(spark, b)          # forced row path
        assert meta_a["compacted"] and meta_b["compacted"]
        ea = SparkQueryEngine(spark, IndexHandle(spark, a))
        eb = SparkQueryEngine(spark, IndexHandle(spark, b))
        agg = [F.sum("df").alias("df"), F.sum("cf").alias("cf"),
               F.count("*").alias("n")]
        assert ea.handle.terms().agg(*agg).collect() == \
            eb.handle.terms().agg(*agg).collect()
        for q in ("pigs AND wolf", '"three little pigs"',
                  "pigs OR sugar", "little NEAR5 wolf",
                  "meta1=metatest*"):
            ra = [(d, round(s, 9)) for d, s in ea.search(q, k=1000)]
            rb = [(d, round(s, 9)) for d, s in eb.search(q, k=1000)]
            assert ra == rb, q


class TestWandDistributed:
    @pytest.fixture(scope="class")
    def engine(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("wandbig"))
        pages = generate_pages_df(spark, 1200, partitions=8)
        build_index(spark, pages, out,
                    IndexConfig(n_buckets=8, buzzwords=("c++",),
                                chunk_docs=32, salt_threshold=32,
                                flush_docs=50), n_shards=1)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        eng.WAND_MAX_CHUNKS = 1  # force the distributed planner
        return eng

    @pytest.mark.parametrize("q", [
        "common0", "pigs OR wolf", "pigs AND wolf",
        "common0 NOT wolf", "(pigs AND wolf) OR sugar"])
    def test_distributed_equals_exact(self, q, engine):
        exact = engine.search_df(q, 10, wand="off").collect()
        wand = engine.search_df(q, 10, wand="force").collect()
        assert engine.last_wand_stats.get("mode") == "distributed"
        assert [(r["doc_id"], r["score"]) for r in wand] == \
            pytest.approx([(r["doc_id"], r["score"]) for r in exact])

    def test_distributed_with_limits(self, engine):
        lim = {"lang": ("en", "en")}
        exact = engine.search_df("common0 OR wolf", 10, limits=lim,
                                 wand="off").collect()
        wand = engine.search_df("common0 OR wolf", 10, limits=lim,
                                wand="force").collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in wand] == \
            [(r["doc_id"], round(r["score"], 9)) for r in exact]

    def test_distributed_prunes_skewed(self, spark, tmp_path_factory):
        import pandas as pd
        from pyspark.sql import functions as F

        rows = [(f"a{i:05d}.txt", "zebra filler%d" % i)
                for i in range(1000)]
        rows += [(f"z{i:05d}.txt", "zebra " * 30) for i in range(12)]
        pages = (spark.createDataFrame(
            pd.DataFrame(rows, columns=["url", "text"]))
            .select("url", F.lit("2024-01-01").cast("timestamp")
                    .alias("warc_ts"),
                    F.encode("text", "utf-8").alias("html"),
                    "text", F.lit("en").alias("lang")))
        out = str(tmp_path_factory.mktemp("wandbigskew"))
        build_index(spark, pages, out,
                    IndexConfig(n_buckets=4, chunk_docs=32,
                                salt_threshold=64, flush_docs=100,
                                stopwords=()), n_shards=1)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        eng.WAND_MAX_CHUNKS = 1
        exact = eng.search_df("zebra", 10, wand="off").collect()
        wand = eng.search_df("zebra", 10, wand="force").collect()
        assert eng.last_wand_stats["mode"] == "distributed"
        assert eng.last_wand_stats["theta"] > 0
        assert [(r["doc_id"], r["score"]) for r in wand] == \
            pytest.approx([(r["doc_id"], r["score"]) for r in exact])


class TestSearchInfo:
    def test_result_headers(self, spark, tmp_path):
        from swish_e_spark.query.output import search_info

        out = str(tmp_path / "hinfo")
        pages = generate_pages_df(spark, 200, partitions=4)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        hdr = search_info(eng, 'pigs AND "the wolf"', k=5)
        assert hdr["search_words"] == 'pigs AND "the wolf"'
        assert set(hdr["parsed_words"]) == {"pigs", "wolf"}
        assert hdr["removed_stopwords"] == 1  # "the"
        # the reference's "Number of hits" is the TOTAL match count,
        # not the page size (display_result_headers)
        assert len(hdr["results"]) <= 5
        total = eng.match_df('pigs AND "the wolf"').count()
        assert hdr["number_of_hits"] == total >= len(hdr["results"])
        assert hdr["run_time_s"] >= 0


class TestIgnoreTotalWordCount:
    def test_scheme0_toggle(self, spark, tmp_path_factory, oracle300):
        out = str(tmp_path_factory.mktemp("itwc"))
        pages = generate_pages_df(spark, N, partitions=6)
        build_index(spark, pages, out, IndexConfig(**CFG), n_shards=1)
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        for q in ["pigs", "pigs AND wolf"]:
            got = spark_swish_search(eng, q, k=10, scheme=0,
                                     ignore_total_word_count=True)
            want = oracle_swish_query(oracle300, q, k=10, scheme=0,
                                      ignore_total_word_count=True)
            assert got == want
        # the toggle changes ranks (doc-length normalization off by
        # default, matching the reference's
        # ignoreTotalWordCountWhenRanking=1 — /root/reference/src/
        # list.c:188); the default equals the ON setting
        a = oracle_swish_query(oracle300, "pigs", k=5, scheme=0,
                               ignore_total_word_count=False)
        b = oracle_swish_query(oracle300, "pigs", k=5, scheme=0,
                               ignore_total_word_count=True)
        assert [r for _, r in a] != [r for _, r in b]
        assert oracle_swish_query(oracle300, "pigs", k=5, scheme=0) == b
