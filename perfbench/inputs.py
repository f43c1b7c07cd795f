"""Seeded workload inputs: corpus windows, refresh batches, the query
pool, the interactive query rounds and the ingest probes.

Every input is a pure function of the workload seed and the sizes in
``Sizes``; the engine only ever sees the generated rows and strings.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import os

import numpy as np

INDEX_CONFIG = {"buzzwords": ["c++"]}
WARM_QUERY = "vebutu"  # a head vocabulary word no pool query uses
PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")


@dataclass(frozen=True)
class Sizes:
    """Input sizes. The defaults are the benchmark of record; the
    benchmark's own tests shrink them."""

    serve_pages: int = 30_000
    slice_pages: int = 1_500    # oracle cross-check slice
    ingest_pages: int = 5_000
    ingest_windows: int = 64    # seed picks one of this many segment runs
    gate_queries: int = 3       # search_df(wand=off) checks per run
    layer_sample: int = 200     # pages for the textproc/codec timings

    def tiny(self) -> "Sizes":
        return replace(self, serve_pages=400, slice_pages=200,
                       ingest_pages=300, ingest_windows=4,
                       gate_queries=2, layer_sample=20)


def _vocab_words(ranks):
    from swish_e_spark.datagen.pages import vocabulary

    vocab = vocabulary()
    return [vocab[r] for r in ranks]


def query_pool(serve_pages: int) -> dict[str, list[str]]:
    """Distinct queries by family, each list ordered hot-to-cold (the
    Zipf rank order). Fixed for a given index size, so the serving
    index cache and the oracle slice check cover every query a seed can
    draw."""
    n_tail = max(1, serve_pages // 29)
    tails = [f"tailterm{(i * 7919) % n_tail}" for i in range(8)]
    head_v = _vocab_words(range(3, 7))
    mid_v = _vocab_words(range(200, 1800, 200))
    tail_v = _vocab_words(range(12_000, 28_000, 2_000))
    # families group queries of like cost, so the seed's pick within a
    # family moves a run's latency little; the order is the order a
    # round issues them in
    return {
        "head": ["common0", "common1", "pigs", "wolf", "little", "sugar"],
        "mid": [f"midterm{i}" for i in range(10)],
        "tail": tails,
        "vocab": mid_v,
        "and": ["pigs AND wolf", "little AND wolf", "common1 AND common0",
                "pigs AND little", "common1 AND wolf"],
        "or": [f"{a} OR {b}" for a, b in zip(mid_v, tail_v)],
        "andnot": [f"{a} NOT common0" for a in mid_v],
        "phrase": ['"three little pigs"', '"once upon a time"',
                   '"little pig"', '"wolf said"', '"upon a time"'],
        "near": ["little NEAR5 wolf", "upon NEAR3 time", "wolf NEAR3 little",
                 "three NEAR2 pigs"],
        "field": ["meta1=metatest1", "meta2=metatest2"]
                 + [f"meta1={w}" for w in head_v],
        "rare_and_head": [f"common0 AND midterm{i}" for i in range(10)],
        "rare_or_head": [f"common0 OR midterm{i}" for i in range(10)],
        "prefix": ["meta*", "metatest*", "midterm*"],
    }


def family_of(pool: dict[str, list[str]]) -> dict[str, str]:
    return {q: fam for fam, qs in pool.items() for q in qs}


def _zipf_pick(rng, n: int, s: float = 1.0) -> int:
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(rng.choice(n, p=w / w.sum()))


def query_rounds(pool: dict[str, list[str]], seed: int):
    """Endless interactive stream, as rounds: one query per family,
    families in a fixed order, each drawn Zipf(s=1) within its family;
    after every third query the client re-issues an earlier one,
    Zipf(s=1) over issue order. A run issues whole rounds, so every
    run measures the same family mix whatever the engine's speed and
    whichever queries the seed drew; the re-issues are the repeats
    that hit the engine's caches, while most family draws run cold."""
    rng = np.random.default_rng((seed, 1))
    issued: list[str] = []
    while True:
        start = len(issued)
        for j, qs in enumerate(pool.values()):
            issued.append(qs[_zipf_pick(rng, len(qs))])
            if j % 3 == 2:
                issued.append(issued[_zipf_pick(rng, len(issued))])
        yield issued[start:]


def ingest_rows(sizes: Sizes, seed: int) -> list[dict]:
    """The ingest corpus: equal slices of five crawl segments past the
    serving corpus, one content-farm and four article segments (the
    datagen corpus's 20% farm share). The seed picks the segments;
    fixing the farm share keeps page lengths, and so index bytes per
    input byte, from moving with the seed."""
    from swish_e_spark.datagen.pages import SEGMENT_DOCS, segment_is_farm

    seg = 1000 + int(np.random.default_rng((seed, 3))
                     .integers(sizes.ingest_windows)) * 16
    farm, article = [], []
    while not farm or len(article) < 4:
        pick = farm if segment_is_farm(seg * SEGMENT_DOCS) else article
        if len(pick) < (1 if pick is farm else 4):
            pick.append(seg)
        seg += 1
    per = sizes.ingest_pages // 5
    rows = []
    for s in sorted(farm + article):
        rows.extend(page_rows(s * SEGMENT_DOCS, s * SEGMENT_DOCS + per))
    return rows


def page_rows(start: int, end: int) -> list[dict]:
    from swish_e_spark.datagen.pages import generate_rows

    return list(generate_rows(end, start, end))


REFRESH_FRAC = 0.01


def refresh_batch(seed: int, rows: list[dict]) -> list[dict]:
    """The pages one re-crawl replaces: a seeded REFRESH_FRAC sample of
    the window, re-fetched a day later with unchanged bytes. Unchanged
    bytes make the read-after-write check exact: BM25 over the live docs
    must not move."""
    import datetime as dt

    rng = np.random.default_rng((seed, 4))
    n = max(1, int(len(rows) * REFRESH_FRAC))
    picked = sorted(rng.permutation(len(rows))[:n])
    return [dict(rows[i], warc_ts=rows[i]["warc_ts"] + dt.timedelta(days=1))
            for i in picked]


PROBE_FAMILIES = ("head", "and", "or", "phrase", "field")


def probe_queries(pool: dict[str, list[str]]) -> list[str]:
    """Read-after-write probes: the hottest query of each fixed family
    (terms the ingest corpus holds). The same for every seed, so the
    probe mix does not move with the seed; the seed picks the corpus
    they run on."""
    return [pool[f][0] for f in PROBE_FAMILIES]


def input_bytes(rows: list[dict]) -> int:
    return sum(len(r["html"]) + len(r["text"].encode("utf-8"))
               for r in rows)


def pages_df(spark, rows: list[dict], path: str):
    """Rows -> one parquet file written on the driver (no Spark job) ->
    DataFrame, the shape a crawl hands the indexer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = ("url", "warc_ts", "html", "text", "lang")
    table = pa.table({c: [r[c] for r in rows] for c in cols},
                     schema=pa.schema([("url", pa.string()),
                                       ("warc_ts", pa.timestamp("us")),
                                       ("html", pa.binary()),
                                       ("text", pa.string()),
                                       ("lang", pa.string())]))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return spark.read.schema(PAGES_SCHEMA).parquet(path)
