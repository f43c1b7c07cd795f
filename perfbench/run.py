"""Benchmark of record for the swish-e-spark engine.

    python3 perfbench/run.py --workload {search,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One process, Spark ``local[<cores>]``,
one client. The last stdout line is the JSON result: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics (and
the spans are written under ``.bench_build/perfbench/trace/``). Any
correctness-gate failure prints ``"correct": false`` and exits 1.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "p50_ms": "ms",
    "peak_rss_mb": "MB",
    "index_bytes_per_input_byte": "ratio",
}
WORKLOADS = ("search", "ingest")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="test-sized inputs (the benchmark's own tests)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "swish_e_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (no swish_e_spark "
              "package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    result = run(root, args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(root: str, args) -> dict:
    from perfbench import inputs, layers, runtime, serving, workloads
    from perfbench.gate import GateError
    from perfbench.trace import EventLog, Tracer

    sizes = inputs.Sizes()
    if args.tiny:
        sizes = sizes.tiny()
    serve = serving.ensure(root, sizes)  # a no-op once built
    dirs = runtime.scratch_dirs(root)
    tracer = Tracer(bool(args.trace))
    pool = inputs.query_pool(sizes.serve_pages)
    spark = None
    correct = True
    attempted = failed = 0
    try:
        with runtime.RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("setup"):
                spark = runtime.start_spark(
                    dirs["tmp"], dirs["events"] if args.trace else None)
                wr = workloads.Run(spark, tracer, sizes, args.seed,
                                   args.seconds, dirs["tmp"])
                if args.workload == "ingest":
                    rows, pages = workloads.ingest_setup(wr)
                else:
                    index_dir = os.path.join(root, serve["index"])
                    engine = workloads.serving_setup(wr, index_dir)
            setup_s = time.perf_counter() - t0
            try:
                if serve["oracle_slice"] != "ok":
                    raise GateError(serve["oracle_slice"])
                if args.workload == "search":
                    workloads.search(wr, engine, pool)
                else:
                    workloads.ingest(
                        wr, rows, pages,
                        os.path.join(dirs["base"], "ingest-counters-"
                                     f"{serving.code_digest(root, sizes)}"
                                     ".json"))
            except GateError as e:
                correct = False
                print(f"perfbench: correctness gate failed: {e}",
                      file=sys.stderr)
            if args.workload != "ingest":
                wr.e2e["index_bytes_per_input_byte"] = (
                    serving.dir_bytes(index_dir) / serve["input_bytes"])
            if args.trace:
                sample = (rows if args.workload == "ingest"
                          else inputs.page_rows(0, sizes.layer_sample))
                from swish_e_spark.index.builder import IndexConfig

                kernels = layers.kernel_timings(
                    sample[:sizes.layer_sample], pool,
                    IndexConfig(**inputs.INDEX_CONFIG))
            t = time.perf_counter()
            runtime.stop_spark(spark)
            spark = None
            wr.detail["stop_s"] = time.perf_counter() - t
        e2e = dict(wr.e2e, setup_s=setup_s, peak_rss_mb=rss.peak / (1 << 20))
        detail = wr.detail
        attempted, failed = wr.attempted, wr.failed
        if wr.errors:
            print(f"perfbench: {failed} failed calls, first: "
                  f"{wr.errors[0]}", file=sys.stderr)
        if args.trace:
            log = EventLog(dirs["events"])
            per_layer = dict(kernels, **layers.span_metrics(
                tracer, log, pool, runtime.cores(),
                detail.get("replaced_bytes", 0)))
            path = os.path.join(dirs["trace"],
                                f"{args.workload}-seed{args.seed}.json")
            tracer.dump(path, {"e2e": e2e, "detail": detail,
                               "per_layer": per_layer,
                               "self_s": tracer.self_seconds()})
            metrics = {k: {"value": per_layer[k], "unit": u}
                       for k, u in layers.PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in E2E.items() if k in e2e}
        print(f"perfbench {args.workload} seed={args.seed}: "
              f"e2e={json.dumps(e2e)} detail={json.dumps(detail)}",
              file=sys.stderr)
    except Exception:
        traceback.print_exc()
        correct = False
        metrics = {}
    finally:
        if spark is not None:
            runtime.stop_spark(spark)
        shutil.rmtree(dirs["tmp"], ignore_errors=True)
    want = set(layers.PER_LAYER) if args.trace else set(E2E)
    if correct and set(metrics) != want:
        print(f"perfbench: metrics missing: {sorted(want - set(metrics))}",
              file=sys.stderr)
        correct = False
    return {"correct": correct, "attempted": max(attempted, 1),
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
