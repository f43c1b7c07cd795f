"""Per-layer numbers of a traced run: direct timings of the textproc,
codec and parser functions on a seeded sample, plus the spans and
Spark event-log totals attributed to each layer's calls."""

from __future__ import annotations

import statistics
import time

from .inputs import family_of
from .trace import spans_totals

MB = 1 << 20

# name -> unit; every traced run reports all of them (0 where the
# workload makes no call into that layer)
FAMILIES = ("head", "mid", "tail", "vocab", "and", "or", "andnot", "phrase",
            "near", "field", "rare_and_head", "rare_or_head", "prefix")
PER_LAYER = {
    "textproc.extract_us_per_doc": "us",
    "textproc.tokenize_us_per_doc": "us",
    "codec.pack_ns_per_posting": "ns",
    "codec.unpack_ns_per_posting": "ns",
    "codec.bytes_per_posting": "B",
    "parser.parse_us": "us",
    "builder.build_s": "s",
    "builder.jobs": "count",
    "builder.tasks": "count",
    "builder.executor_cpu_s": "s",
    "builder.shuffle_write_mb": "MB",
    "builder.spill_mb": "MB",
    "builder.gc_s": "s",
    "maintenance.update_s": "s",
    "maintenance.update_jobs": "count",
    "maintenance.update_executor_cpu_s": "s",
    "maintenance.compact_s": "s",
    "maintenance.compact_jobs": "count",
    "maintenance.compact_shuffle_write_mb": "MB",
    "maintenance.bytes_written_mb": "MB",
    "maintenance.write_amp": "ratio",
    "maintenance.snapshot_diff_s": "s",
    "maintenance.expire_s": "s",
    "open.handle_s": "s",
    "open.engine_s": "s",
    "open.jobs": "count",
    "executor.jobs_per_query": "count",
    "executor.tasks_per_query": "count",
    "executor.first_seen_ms": "ms",
    "executor.repeat_ms": "ms",
    **{f"executor.p50_ms.{f}": "ms" for f in FAMILIES},
    "executor.driver_gap_ms_per_query": "ms",
    "executor.executor_cpu_ms_per_query": "ms",
    "executor.shuffle_read_mb_per_query": "MB",
    "executor.wand_blocks_pruned_frac": "ratio",
    "executor.exh_chunks_pruned_frac": "ratio",
    "batch.jobs_per_battery": "count",
    "batch.tasks_per_battery": "count",
    "batch.executor_cpu_s_per_battery": "s",
    "batch.shuffle_read_mb_per_battery": "MB",
    "batch.driver_gap_s_per_battery": "s",
    "spark.core_busy_frac": "ratio",
    "spark.scheduler_delay_ms_per_task": "ms",
    "spark.deserialize_ms_per_task": "ms",
    "spark.gc_frac": "ratio",
    "spark.failed_tasks": "count",
}


def _median_wall(fn) -> float:
    """Median wall seconds of three calls of ``fn``."""
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def kernel_timings(rows: list[dict], pool: dict, cfg) -> dict:
    """extract / tokenize_doc / pack / unpack / parse_query, timed
    directly on a page sample and on the query pool."""
    from swish_e_spark.codec.postings import (
        pack_posting_list, unpack_posting_list,
    )
    from swish_e_spark.datagen.pages import doctype_of_url
    from swish_e_spark.query.parser import parse_query
    from swish_e_spark.textproc.extractor import extract
    from swish_e_spark.textproc.tokenizer import tokenize_doc

    tcfg = cfg.tokenizer_config()
    pages = [(r["html"], doctype_of_url(r["url"])) for r in rows]
    docs = [extract(h, doctype=d) for h, d in pages]
    t_ext = _median_wall(lambda: [extract(h, doctype=d) for h, d in pages])
    toks = [tokenize_doc(d, tcfg) for d in docs]
    t_tok = _median_wall(lambda: [tokenize_doc(d, tcfg) for d in docs])

    lists: dict = {}
    for doc_id, (postings, dl) in enumerate(toks):
        for key, p in postings.items():
            lists.setdefault(key, []).append((doc_id, p, dl))
    args = []
    for entries in lists.values():
        args.append(([d for d, _, _ in entries],
                     [len(p.positions) for _, p, _ in entries],
                     [x for _, p, _ in entries for x in p.positions],
                     [x for _, p, _ in entries for x in p.structures],
                     [dl for _, _, dl in entries]))
    n_post = sum(len(a[0]) for a in args)
    packed = [pack_posting_list(*a) for a in args]
    t_pack = _median_wall(lambda: [pack_posting_list(*a) for a in args])
    cols = [(p["docs_bin"], p["tfs_bin"], p["pos_bin"], p["structs_bin"],
             p["dls_bin"]) for p in packed]
    t_unpack = _median_wall(lambda: [unpack_posting_list(*c) for c in cols])
    n_bytes = sum(len(b) for c in cols for b in c)

    queries = [q for qs in pool.values() for q in qs]
    t_parse = _median_wall(lambda: [parse_query(q, tcfg) for q in queries])
    return {
        "textproc.extract_us_per_doc": t_ext / len(rows) * 1e6,
        "textproc.tokenize_us_per_doc": t_tok / len(rows) * 1e6,
        "codec.pack_ns_per_posting": t_pack / n_post * 1e9,
        "codec.unpack_ns_per_posting": t_unpack / n_post * 1e9,
        "codec.bytes_per_posting": n_bytes / n_post,
        "parser.parse_us": t_parse / len(queries) * 1e6,
    }


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def span_metrics(tracer, log, pool: dict, cores: int,
                 replaced_bytes: int) -> dict:
    """Layer numbers from the spans and the event log."""
    out: dict = {}
    b = spans_totals(log, tracer.named("builder."))
    out.update({
        "builder.build_s": _dur(tracer.named("builder.")),
        "builder.jobs": b.get("jobs", 0),
        "builder.tasks": b.get("tasks", 0),
        "builder.executor_cpu_s": b.get("cpu_s", 0.0),
        "builder.shuffle_write_mb": b.get("shuffle_write_b", 0) / MB,
        "builder.spill_mb": b.get("spill_b", 0) / MB,
        "builder.gc_s": b.get("gc_s", 0.0),
    })

    ups = tracer.named("maintenance.update")
    comp = tracer.named("maintenance.compact")
    u, c = spans_totals(log, ups), spans_totals(log, comp)
    written = u.get("output_b", 0) + c.get("output_b", 0)
    out.update({
        "maintenance.update_s": (statistics.median(
            s["end"] - s["start"] for s in ups) if ups else 0.0),
        "maintenance.update_jobs": _per(u.get("jobs", 0), len(ups)),
        "maintenance.update_executor_cpu_s": _per(u.get("cpu_s", 0.0),
                                                  len(ups)),
        "maintenance.compact_s": _dur(comp),
        "maintenance.compact_jobs": c.get("jobs", 0),
        "maintenance.compact_shuffle_write_mb":
            c.get("shuffle_write_b", 0) / MB,
        "maintenance.bytes_written_mb": written / MB,
        "maintenance.write_amp": _per(written, replaced_bytes),
        "maintenance.snapshot_diff_s":
            _dur(tracer.named("maintenance.snapshot_diff")),
        "maintenance.expire_s": _dur(tracer.named("maintenance.expire")),
    })

    handles, engines = tracer.named("open.handle"), tracer.named("open.engine")
    o = spans_totals(log, handles + engines)
    out.update({
        "open.handle_s": (statistics.median(
            s["end"] - s["start"] for s in handles) if handles else 0.0),
        "open.engine_s": (statistics.median(
            s["end"] - s["start"] for s in engines) if engines else 0.0),
        "open.jobs": _per(o.get("jobs", 0), len(engines)),
    })

    out.update(_executor(tracer, log, pool))

    bats = tracer.named("batch.battery")
    bt = spans_totals(log, bats)
    out.update({
        "batch.jobs_per_battery": _per(bt.get("jobs", 0), len(bats)),
        "batch.tasks_per_battery": _per(bt.get("tasks", 0), len(bats)),
        "batch.executor_cpu_s_per_battery": _per(bt.get("cpu_s", 0.0),
                                                 len(bats)),
        "batch.shuffle_read_mb_per_battery":
            _per(bt.get("shuffle_read_b", 0) / MB, len(bats)),
        "batch.driver_gap_s_per_battery": _per(bt.get("driver_gap_s", 0.0),
                                               len(bats)),
    })

    w = spans_totals(log, tracer.named("workload"))
    out.update({
        "spark.core_busy_frac": _per(w.get("run_s", 0.0),
                                     w.get("wall_s", 0.0) * cores),
        "spark.scheduler_delay_ms_per_task":
            _per(w.get("sched_delay_s", 0.0) * 1e3, w.get("tasks", 0)),
        "spark.deserialize_ms_per_task":
            _per(w.get("deser_s", 0.0) * 1e3, w.get("tasks", 0)),
        "spark.gc_frac": _per(w.get("gc_s", 0.0), w.get("run_s", 0.0)),
        "spark.failed_tasks": w.get("failed", 0),
    })
    return out


def _executor(tracer, log, pool: dict) -> dict:
    qs = tracer.named("query.search")
    fam = family_of(pool)
    t = spans_totals(log, qs)
    seen: set = set()
    first, repeat, by_fam = [], [], {}
    wand_pruned = wand_total = exh_pruned = exh_total = 0
    for s in sorted(qs, key=lambda s: s["start"]):
        q, ms = s["counts"]["query"], (s["end"] - s["start"]) * 1e3
        (repeat if q in seen else first).append(ms)
        seen.add(q)
        by_fam.setdefault(fam.get(q), []).append(ms)
        wand, exh = s["counts"].get("wand"), s["counts"].get("exh")
        if wand:
            wand_pruned += wand.get("blocks_pruned", 0)
            wand_total += wand.get("blocks_total", 0)
        if exh:
            exh_pruned += exh.get("chunks_pruned", 0)
            exh_total += exh.get("chunks_total", 0)
    n = len(qs)
    med = (lambda xs: statistics.median(xs) if xs else 0.0)
    return {
        "executor.jobs_per_query": _per(t.get("jobs", 0), n),
        "executor.tasks_per_query": _per(t.get("tasks", 0), n),
        "executor.first_seen_ms": med(first),
        "executor.repeat_ms": med(repeat),
        **{f"executor.p50_ms.{f}": med(by_fam.get(f, [])) for f in FAMILIES},
        "executor.driver_gap_ms_per_query":
            _per(t.get("driver_gap_s", 0.0) * 1e3, n),
        "executor.executor_cpu_ms_per_query":
            _per(t.get("cpu_s", 0.0) * 1e3, n),
        "executor.shuffle_read_mb_per_query":
            _per(t.get("shuffle_read_b", 0) / MB, n),
        "executor.wand_blocks_pruned_frac": _per(wand_pruned, wand_total),
        "executor.exh_chunks_pruned_frac": _per(exh_pruned, exh_total),
    }
