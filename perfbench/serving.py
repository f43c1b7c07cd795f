"""Serving-index cache for the search and batch workloads.

The index is built once per code version: the cache key digests every
``swish_e_spark/**/*.py`` and ``perfbench/*.py`` file plus the corpus
sizes (the same digest keys the ingest counters), so a change to the build or the format always serves its own
index, and its build cost is measured by the ingest workload rather
than paid by every serving run. The build also runs the oracle slice
check, whose verdict is stored with the index.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

from .inputs import INDEX_CONFIG, Sizes, page_rows, query_pool
from .runtime import WORK

BUILD_TIMEOUT_S = 840


def code_digest(root: str, sizes: Sizes) -> str:
    h = hashlib.sha256(f"{sizes.serve_pages} {sizes.slice_pages}".encode())
    files = sorted(glob.glob(os.path.join(root, "swish_e_spark", "**",
                                          "*.py"), recursive=True)
                   + glob.glob(os.path.join(root, "perfbench", "*.py")))
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def cache_dir(root: str, sizes: Sizes) -> str:
    return os.path.join(root, WORK, f"serve-{sizes.serve_pages}-"
                                    f"{code_digest(root, sizes)}")


def ensure(root: str, sizes: Sizes) -> dict:
    """Return the cache manifest, building the cache first (in a child
    process with its own JVM, so the run that pays for the build still
    measures a cold serving set-up) if this code version has none."""
    d = cache_dir(root, sizes)
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        for old in glob.glob(os.path.join(
                root, WORK, f"serve-{sizes.serve_pages}-*")):
            shutil.rmtree(old, ignore_errors=True)
        cmd = [sys.executable, "-m", "perfbench.serving", root,
               json.dumps(sizes.__dict__)]
        subprocess.run(cmd, check=True, timeout=BUILD_TIMEOUT_S, cwd=root,
                       stdout=sys.stderr)
        # flush the build's writes now, not while this run measures
        os.sync()
    with open(manifest) as f:
        return json.load(f)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def build(root: str, sizes: Sizes) -> None:
    from swish_e_spark.index.builder import (
        IndexConfig, build_index, generate_pages_df,
    )

    from .gate import GateError, oracle_slice
    from .runtime import scratch_dirs, start_spark, stop_spark

    final = cache_dir(root, sizes)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    dirs = scratch_dirs(root)
    spark = start_spark(dirs["tmp"])
    try:
        t0 = time.perf_counter()
        pages_path = os.path.join(tmp, "pages")
        (generate_pages_df(spark, sizes.serve_pages, partitions=16)
         .write.parquet(pages_path))
        pages = spark.read.parquet(pages_path)
        input_bytes = pages.selectExpr(
            "sum(length(html) + octet_length(text)) AS b").first()["b"]
        meta = build_index(spark, pages, os.path.join(tmp, "index"),
                           IndexConfig(**INDEX_CONFIG), resume=False)
        shutil.rmtree(pages_path)
        t_build = time.perf_counter() - t0
        pool = query_pool(sizes.serve_pages)
        verdict = "ok"
        try:
            oracle_slice(spark, pool, page_rows(0, sizes.slice_pages),
                         os.path.join(dirs["tmp"], "slice"))
        except GateError as e:
            verdict = str(e)
        manifest = {"index": os.path.relpath(os.path.join(final, "index"),
                                             root),
                    "doc_count": meta["doc_count"],
                    "input_bytes": int(input_bytes),
                    "index_bytes": dir_bytes(os.path.join(tmp, "index")),
                    "build_s": t_build,
                    "oracle_slice": verdict}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)
        print(f"serving index built: {manifest}", file=sys.stderr)
    finally:
        stop_spark(spark)
        shutil.rmtree(dirs["tmp"], ignore_errors=True)


if __name__ == "__main__":
    build(sys.argv[1], Sizes(**json.loads(sys.argv[2])))
