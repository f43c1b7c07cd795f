"""The two workloads. Each records its end-to-end numbers, the
per-layer numbers when traced, and attempted/failed call counts; any
correctness-gate failure raises ``GateError``.

Timed regions contain only calls into the engine's public API; input
generation and every gate check run outside them.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import time

import numpy as np

from . import gate, inputs
from .inputs import INDEX_CONFIG, Sizes, pages_df
from .serving import dir_bytes

K = 10


class Run:
    """State of one benchmark invocation."""

    def __init__(self, spark, tracer, sizes: Sizes, seed: int,
                 seconds: float, tmp: str):
        self.spark = spark
        self.tracer = tracer
        self.sizes = sizes
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.detail: dict = {}

    def call(self, fn, *args, **kw):
        """One counted engine call; a raise counts as failed and
        returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - counted, reported
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}")
            return None

    def open_engine(self, index_dir: str):
        from swish_e_spark.index.builder import IndexHandle
        from swish_e_spark.query.executor import SparkQueryEngine

        tr = self.tracer
        with tr.span("open.handle"):
            handle = IndexHandle(self.spark, index_dir)
        with tr.span("open.engine"):
            engine = SparkQueryEngine(self.spark, handle)
            _ = handle.stats
        return engine

    def search(self, engine, q: str, qid: str):
        """Timed engine.search; records pruning evidence on the span."""
        wand_before = getattr(engine, "last_wand_stats", None)
        with self.tracer.span("query.search", qid=qid, query=q) as sp:
            t = time.perf_counter()
            res = self.call(engine.search, q, k=K)
            dt = time.perf_counter() - t
        if sp is not None:
            wand = getattr(engine, "last_wand_stats", None)
            sp["counts"]["wand"] = (dict(wand) if wand is not None
                                    and wand is not wand_before else None)
            exh = engine.last_exh_stats
            sp["counts"]["exh"] = dict(exh) if exh else None
        return res, dt


def _p50_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1e3


# ---------------------------------------------------------------- serving

def serving_setup(run: Run, index_dir: str):
    """Open the engine and run one warm-up query on a term no pool query
    uses: the first Python workers spawn, the query caches stay cold."""
    with run.tracer.span("setup.open"):
        engine = run.open_engine(index_dir)
    with run.tracer.span("setup.warm"):
        engine.search(inputs.WARM_QUERY, k=K)
    return engine


def search(run: Run, engine, pool) -> None:
    """Closed loop, one client: sequential search() over whole rounds of
    the stratified Zipf stream until the run's time is up (the clock is
    read between rounds only)."""
    fam = inputs.family_of(pool)
    seen: dict = {}
    lat: list[float] = []
    first: list[float] = []
    repeat: list[float] = []
    by_fam: dict = {}
    mismatch = []
    with run.tracer.span("workload"):
        t0 = time.perf_counter()
        stream = itertools.chain.from_iterable(itertools.takewhile(
            lambda _: time.perf_counter() - t0 < run.seconds,
            inputs.query_rounds(pool, run.seed)))
        for i, q in enumerate(stream):
            res, dt = run.search(engine, q, f"q{i}")
            if res is None:
                continue
            lat.append(dt)
            by_fam.setdefault(fam[q], []).append(dt)
            if q in seen:
                repeat.append(dt)
                if res != seen[q]:
                    mismatch.append(q)
            else:
                first.append(dt)
                seen[q] = res
        wall = time.perf_counter() - t0
    run.e2e.update(throughput_per_s=len(lat) / wall, p50_ms=_p50_ms(lat))
    run.detail.update(
        queries=len(lat), distinct=len(seen),
        p95_ms=float(np.percentile(lat, 95)) * 1e3,
        first_seen_ms=_p50_ms(first),
        repeat_ms=_p50_ms(repeat) if repeat else None,
        family_p50_ms={f: _p50_ms(v) for f, v in sorted(by_fam.items())})
    # gate: repeats answer identically; every distinct query agrees
    # with the shared batch pipeline, a seeded sample also with the
    # exhaustive path
    if mismatch:
        raise gate.GateError(f"repeat of {mismatch[:3]} changed its top-k")
    rng = np.random.default_rng((run.seed, 6))
    qs = sorted(seen)
    sample = [qs[j] for j in rng.choice(
        len(qs), size=min(run.sizes.gate_queries, len(qs)), replace=False)]
    t = time.perf_counter()
    cross_check(run, engine, seen, sample)
    run.detail["gate_s"] = time.perf_counter() - t


def cross_check(run: Run, engine, seen: dict, exhaustive: list[str]):
    """``seen`` (search() top-k by query) against one traced battery,
    and ``exhaustive`` of its queries against search_df(wand="off")."""
    battery = {f"g{i:03d}": q for i, q in enumerate(sorted(seen))}
    with run.tracer.span("batch.battery"):
        rows = gate.batch_rows(engine.search_batch(battery, k=K))
    gate.check_batch(seen, battery, rows)
    gate.check_exhaustive(engine, seen, exhaustive, K)


# ----------------------------------------------------------------- ingest

def ingest_setup(run: Run):
    """Corpus load: the seed's crawl-segment slices, rendered and
    written as the crawl parquet the indexer reads."""
    rows = inputs.ingest_rows(run.sizes, run.seed)
    pages = pages_df(run.spark, rows, os.path.join(run.tmp, "pages"))
    return rows, pages


def ingest(run: Run, rows, pages, counters_path: str) -> None:
    """build_index, a refresh (update_documents, then a fresh engine
    runs the probes), compact, snapshot_diff and expire."""
    with run.tracer.span("workload"):
        _ingest(run, rows, pages, counters_path)


def _ingest(run: Run, rows, pages, counters_path: str) -> None:
    from swish_e_spark.index.builder import (
        IndexConfig, build_index, list_snapshots,
    )
    from swish_e_spark.index.maintenance import (
        compact_index, expire_snapshots, snapshot_diff, update_documents,
    )

    sizes, tr = run.sizes, run.tracer
    idx = os.path.join(run.tmp, "index")
    pool = inputs.query_pool(sizes.serve_pages)
    probes = inputs.probe_queries(pool)
    refresh = inputs.refresh_batch(run.seed, rows)
    probe_lat: list[float] = []
    n_probe = 0
    counters: dict = {}

    def fresh_probes():
        """A fresh engine runs the probes: (engine, live doc count,
        {query: top-k}, {query: top-k by url}, live urls)."""
        nonlocal n_probe
        engine = run.open_engine(idx)
        url = {r["doc_id"]: r["url"] for r in
               engine.handle.live_docs().select("doc_id", "url").collect()}
        raw = {}
        for q in probes:
            res, dt = run.search(engine, q, f"p{n_probe}")
            n_probe += 1
            if res is not None:
                probe_lat.append(dt)
                raw[q] = res
        by_url = {q: [(url[d], s) for d, s in res] for q, res in raw.items()}
        return (engine, engine.handle.stats["n_docs"], raw, by_url,
                set(url.values()))

    with tr.span("builder.build_index"):
        t = time.perf_counter()
        meta = run.call(build_index, run.spark, pages, idx,
                        IndexConfig(**INDEX_CONFIG), resume=False)
        t_build = time.perf_counter() - t
    if meta is None:
        raise gate.GateError(f"build_index failed: {run.errors[-1]}")
    counters["build"] = [meta["doc_count"], meta["token_count"],
                         meta["posting_count"]]
    v0 = list_snapshots(idx)[-1]
    _, n0, _, want, live = fresh_probes()

    refresh_df = pages_df(run.spark, refresh, os.path.join(run.tmp,
                                                           "refresh"))
    with tr.span("maintenance.update"):
        t = time.perf_counter()
        res = run.call(update_documents, run.spark, refresh_df, idx)
        t_update = time.perf_counter() - t
    if res is None:
        raise gate.GateError(f"update failed: {run.errors[-1]}")
    sm = res["shard"]
    counters["update"] = [sm["doc_count"], sm["token_count"],
                          sm["posting_count"], res["replaced"]]
    # robots-noindex pages are never indexed, so never replaced
    replaced = {p["url"] for p in refresh} & live
    gate.check_equal("pages replaced by the refresh", res["replaced"],
                     len(replaced))
    _check_fresh("the refresh", n0, want, fresh_probes())

    failed = run.failed
    with tr.span("maintenance.compact"):
        t = time.perf_counter()
        run.call(compact_index, run.spark, idx)
        t_compact = time.perf_counter() - t
    if run.failed > failed:
        raise gate.GateError(f"compact failed: {run.errors[-1]}")
    got = fresh_probes()
    _check_fresh("compact", n0, want, got)
    engine, raw = got[0], got[2]
    cross_check(run, engine, raw, sorted(raw)[:1])

    with tr.span("maintenance.snapshot_diff"):
        t = time.perf_counter()
        diff = run.call(lambda: snapshot_diff(run.spark, idx, v0).collect())
        t_diff = time.perf_counter() - t
    with tr.span("maintenance.expire"):
        t = time.perf_counter()
        run.call(expire_snapshots, idx, keep_last=1)
        t_expire = time.perf_counter() - t
    if diff is None:
        raise gate.GateError(f"snapshot_diff failed: {run.errors[-1]}")
    gate.check_equal("snapshot_diff", sorted((r["url"], r["change"])
                                             for r in diff),
                     sorted((u, "replaced") for u in replaced))

    in_bytes = inputs.input_bytes(rows)
    written = meta["doc_count"] + len(refresh)
    write_s = t_build + t_update + t_compact
    run.e2e.update(throughput_per_s=written / write_s,
                   p50_ms=_p50_ms(probe_lat),
                   index_bytes_per_input_byte=dir_bytes(idx) / in_bytes)
    run.detail.update(
        docs=meta["doc_count"], build_s=t_build,
        build_docs_per_s=meta["doc_count"] / t_build,
        update_s=t_update, compact_s=t_compact,
        snapshot_diff_s=t_diff, expire_s=t_expire,
        fresh_probes=len(probe_lat),
        replaced_bytes=inputs.input_bytes(refresh),
        input_bytes=in_bytes)
    _check_counters(counters_path, run.seed, counters)
    shutil.rmtree(idx, ignore_errors=True)


def _check_fresh(what: str, n0: int, want: dict, got) -> None:
    _, n, _, res, _ = got
    gate.check_equal(f"live docs after {what}", n, n0)
    for q, ranked in want.items():
        if q not in res:
            raise gate.GateError(f"probe {q!r} after {what} failed")
        gate.check_ties_as_sets(f"probe {q!r} after {what}",
                                res[q], ranked, K)


def _check_counters(path: str, seed: int, counters: dict) -> None:
    """Doc/token/posting counters of a seed must repeat across runs of
    the same code: the first run records them, later runs compare."""
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    key = str(seed)
    if key in known:
        gate.check_equal(f"ingest counters for seed {seed}",
                         counters, known[key])
        return
    known[key] = counters
    with open(path + ".tmp", "w") as f:
        json.dump(known, f)
    os.replace(path + ".tmp", path)
