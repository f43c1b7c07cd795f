"""On-disk shape of maintenance writes: the compacted segments' file
layout, and the tombstone files of an update that replaces nothing."""

import glob
import os

import pytest

from swish_e_spark.index.builder import (
    IndexConfig, IndexHandle, build_index, generate_pages_df,
)
from swish_e_spark.index.maintenance import (
    _load_meta, compact_index, remove_documents, update_documents,
)

CFG = dict(n_buckets=8, buzzwords=("c++",), chunk_docs=64,
           salt_threshold=32, flush_docs=50)


@pytest.mark.parametrize("path", ["chunkwise", "rowpath"])
def test_compaction_writes_one_file_per_term_bucket(
        spark, tmp_path, corpus300, monkeypatch, path):
    """The compaction shuffle co-locates by term bucket, so each
    bucket directory of the new generation holds exactly one file."""
    import swish_e_spark.index.maintenance as M

    out = str(tmp_path / "ix")
    pages = generate_pages_df(spark, 300, partitions=6)
    build_index(spark, pages, out, IndexConfig(**CFG), n_shards=2)
    remove_documents(spark, out, sorted(r["url"] for r in corpus300)[:5])
    if path == "rowpath":
        monkeypatch.setattr(M, "_TOMBSTONE_DRIVER_CAP", -1)
    meta = compact_index(spark, out)
    (seg,) = meta["files"]["segments"]
    dirs = glob.glob(os.path.join(out, seg, "term_bucket=*"))
    assert len(dirs) == CFG["n_buckets"]
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_update_replacing_nothing_adds_no_tombstone_file(
        spark, tmp_path, corpus300):
    from pyspark.sql import functions as F

    out = str(tmp_path / "ix")
    pages = generate_pages_df(spark, 300, partitions=6)
    urls = sorted(r["url"] for r in corpus300)
    build_index(spark, pages.filter(F.col("url") < urls[250]), out,
                IndexConfig(**CFG), n_shards=1)
    before = _load_meta(out)["files"].get("removed", [])

    res = update_documents(spark, pages.filter(F.col("url") >= urls[250]),
                           out)
    assert res["replaced"] == 0
    assert _load_meta(out)["files"]["removed"] == before
    assert not glob.glob(os.path.join(out, "removed", "*.parquet"))
    assert not glob.glob(os.path.join(out, "_removed_staging_*"))

    # a replacing update counts its tombstones from the staged files
    live = IndexHandle(spark, out).live_docs()
    want = live.filter(F.col("url") < urls[10]).count()
    res = update_documents(spark, pages.filter(F.col("url") < urls[10]),
                           out)
    assert res["replaced"] == want > 0
    removed = IndexHandle(spark, out).removed()
    assert removed.count() == want
