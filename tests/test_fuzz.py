"""Randomized rank-identity fuzzing (engine vs oracle) and
garbage-input robustness."""

import random

import pytest

from swish_e_spark.index.builder import (
    IndexConfig, IndexHandle, build_index, generate_pages_df,
)
from swish_e_spark.query.executor import SparkQueryEngine
from swish_e_spark.query.parser import QueryError, WordsTooCommon


@pytest.fixture(scope="module")
def fuzz_engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fuzz"))
    pages = generate_pages_df(spark, 300, partitions=6)
    build_index(spark, pages, out,
                IndexConfig(n_buckets=8, buzzwords=("c++",),
                            chunk_docs=64, salt_threshold=32,
                            flush_docs=50), n_shards=2)
    return SparkQueryEngine(spark, IndexHandle(spark, out))


def _random_query(rng, vocab):
    """Random boolean/phrase/near/prefix query over corpus vocabulary
    (plus occasional junk words)."""
    def word():
        if rng.random() < 0.15:
            return rng.choice(["zzzzz", "qqqq9", "nonexistent"])
        return rng.choice(vocab)

    def unit():
        r = rng.random()
        if r < 0.12:
            return f'"{word()} {word()}"'
        if r < 0.2:
            return word()[:3] + "*"
        if r < 0.25:
            w = word()
            return w[:2] + "?" + w[3:] if len(w) > 3 else w
        if r < 0.3:
            return f"meta1={word()}"
        return word()

    parts = [unit()]
    for _ in range(rng.randrange(0, 3)):
        op = rng.choice(["AND", "OR", "NOT", "NEAR3", ""])
        parts.append(op)
        parts.append(unit())
    return " ".join(p for p in parts if p)


class TestFuzzRankIdentity:
    def test_random_queries(self, fuzz_engine, oracle300):
        vocab = sorted({t for (f, t) in oracle300.postings
                        if f == "swishdefault"})
        rng = random.Random(20260817)
        checked = 0
        for _ in range(25):
            q = _random_query(rng, vocab)
            try:
                want = oracle300.query(q, k=10)
            except (QueryError, WordsTooCommon) as ex:
                with pytest.raises(type(ex)):
                    fuzz_engine.search(q, k=10)
                continue
            got = fuzz_engine.search(q, k=10)
            assert len(got) == len(want), q
            for (ed, es), (od, osc) in zip(got, want):
                assert ed == od, q
                assert es == pytest.approx(osc, rel=1e-6), q
            checked += 1
        assert checked >= 15  # most random queries must be evaluable

    def test_random_queries_aggressive_planning(self, fuzz_engine,
                                                oracle300):
        """The same rank-identity fuzz with every round-3 pruning path
        forced open: the positional doc allowlist at any index size,
        the rare-exact cap scaled to this corpus, WAND forced through
        BOTH planners. Lossless planning must hold on arbitrary query
        shapes, not just the curated bench queries."""
        vocab = sorted({t for (f, t) in oracle300.postings
                        if f == "swishdefault"})
        rng = random.Random(20260818)
        eng = fuzz_engine
        eng.exh_prune_min_docs = 0
        eng.RARE_EXACT_DF = 8
        checked = 0
        try:
            for i in range(24):
                q = _random_query(rng, vocab)
                try:
                    want = oracle300.query(q, k=10)
                except (QueryError, WordsTooCommon):
                    continue
                got = eng.search(q, k=10)
                assert [(d, round(s, 6)) for d, s in got] == \
                    [(d, round(s, 6)) for d, s in want], q
                # the exhaustive planner with the allowlist forced on
                exh = eng.search_df(q, 10, wand="off").collect()
                assert [(r["doc_id"], round(r["score"], 6))
                        for r in exh] == \
                    [(d, round(s, 6)) for d, s in want], q
                # WAND surface: small planner on even iterations, the
                # distributed planner on odd ones (ineligible trees
                # fall back to the same exhaustive+allowlist path)
                if i % 2:
                    eng.WAND_MAX_CHUNKS = 1
                try:
                    rows = eng.search_df(q, 10, wand="force").collect()
                finally:
                    if i % 2:
                        del eng.WAND_MAX_CHUNKS
                assert [(r["doc_id"], round(r["score"], 6))
                        for r in rows] == \
                    [(d, round(s, 6)) for d, s in want], q
                checked += 1
        finally:
            eng.exh_prune_min_docs = eng.EXH_PRUNE_MIN_DOCS
            del eng.RARE_EXACT_DF
        assert checked >= 14


class TestGarbageInput:
    def test_garbage_bytes_build(self, spark, tmp_path):
        import pandas as pd
        from pyspark.sql import functions as F

        rng = random.Random(7)
        rows = []
        for i in range(12):
            blob = bytes(rng.randrange(256) for _ in range(400))
            rows.append((f"g{i}.html", blob))
        # truncated tags, unclosed comments, broken entities
        rows += [("h0.html", b"<html><body><b>unclosed bold"),
                 ("h1.html", b"<!-- never closed comment <p>hi"),
                 ("h2.html", b"&bogus; &#xZZ; &amp text"),
                 ("h3.html", b"\xff\xfe\x00\x01<html>\x80\x90</html>"),
                 ("h4.html", b"")]
        pdf = pd.DataFrame(rows, columns=["url", "blob"])
        pages = (spark.createDataFrame(pdf)
                 .select("url",
                         F.lit("2024-01-01").cast("timestamp")
                         .alias("warc_ts"),
                         F.col("blob").alias("html"),
                         F.lit("").alias("text"),
                         F.lit("und").alias("lang")))
        out = str(tmp_path / "garbage")
        meta = build_index(spark, pages, out,
                           IndexConfig(n_buckets=4), n_shards=1)
        assert meta["complete"]
        eng = SparkQueryEngine(spark, IndexHandle(spark, out))
        # must not crash; the well-formed-enough docs are searchable
        assert isinstance(eng.search("unclosed", k=5), list)

    def test_garbage_matches_oracle(self, spark, tmp_path):
        # byte-identity holds on malformed input too (same code path)
        from swish_e_spark.oracle.engine import OracleIndex
        from swish_e_spark.textproc.tokenizer import TokenizerConfig

        blob = b"<html><body><b>unclosed bold and\x80more"
        oidx = OracleIndex(TokenizerConfig())
        oidx.add("h0.html", blob, doctype="html")
        oidx.build()
        assert oidx.query("unclosed", k=5)


class TestFuzzSwishRank:
    def test_random_queries_swish_schemes(self, fuzz_engine, oracle300):
        from swish_e_spark.query.swishrank import (
            oracle_swish_query, spark_swish_search,
        )

        vocab = sorted({t for (f, t) in oracle300.postings
                        if f == "swishdefault"})
        rng = random.Random(99)
        checked = 0
        for _ in range(8):
            q = _random_query(rng, vocab)
            for scheme in (0, 1):
                itwc = scheme != 1  # -R 1 demands stored word counts
                try:
                    want = oracle_swish_query(
                        oracle300, q, k=10, scheme=scheme,
                        ignore_total_word_count=itwc)
                except (QueryError, WordsTooCommon):
                    continue
                got = spark_swish_search(fuzz_engine, q, k=10,
                                         scheme=scheme,
                                         ignore_total_word_count=itwc)
                assert got == want, (q, scheme)
                checked += 1
        assert checked >= 8

    def test_random_queries_with_rank_bias(self, fuzz_engine,
                                           oracle300):
        """Per-metaname rank_bias in [-10, 10] — engine==oracle under
        nonzero biases for both schemes (metaEntry rank_bias,
        /root/reference/src/swish.h:367,378; applied
        /root/reference/src/rank.c:413-426,713-726)."""
        from swish_e_spark.query.swishrank import (
            oracle_swish_query, spark_swish_search,
        )

        vocab = sorted({t for (f, t) in oracle300.postings
                        if f == "swishdefault"})
        rng = random.Random(4242)
        checked = 0
        for _ in range(6):
            q = _random_query(rng, vocab)
            biases = {"swishdefault": rng.randint(-10, 10),
                      "swishtitle": rng.randint(-10, 10),
                      "meta1": rng.randint(-10, 10)}
            for scheme in (0, 1):
                itwc = scheme != 1
                try:
                    want = oracle_swish_query(
                        oracle300, q, k=10, scheme=scheme,
                        rank_biases=biases,
                        ignore_total_word_count=itwc)
                except (QueryError, WordsTooCommon):
                    continue
                got = spark_swish_search(fuzz_engine, q, k=10,
                                         scheme=scheme,
                                         rank_biases=biases,
                                         ignore_total_word_count=itwc)
                assert got == want, (q, scheme, biases)
                checked += 1
        assert checked >= 6
